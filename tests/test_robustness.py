"""Robustness: empty inputs through every stage; the LSH hot-band guard.

An empty transcripts table must flow through the full pipeline without
crashing and produce empty (but correctly-schemed) stages — the behavior
a scheduled production run hits on an empty partition of a date range.
The ``max_band_bucket`` guard must drop pathological stop-surface bands
(the quadratic blow-up protection at web scale) while leaving small
bands untouched.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_transcripts(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path_factory.mktemp("empty") / "t.parquet")
    df = pd.DataFrame(
        {
            "conv_id": pd.Series([], dtype="object"),
            "turn_idx": pd.Series([], dtype="int32"),
            "role": pd.Series([], dtype="object"),
            "text": pd.Series([], dtype="object"),
            "tool": pd.Series([], dtype="object"),
            "ts": pd.Series([], dtype="datetime64[us]"),
        }
    )
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), p)
    return spark.read.parquet(p)


def test_empty_input_full_pipeline(spark, empty_transcripts, tmp_path_factory):
    from ner_spark.pipeline import STAGES, PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("empty_out"))
    res = run_pipeline(
        spark, empty_transcripts, PipelineConfig(out_dir=out_dir, run_id="e1")
    )
    assert set(res) == set(STAGES)
    for stage, df in res.items():
        assert df.count() == 0, stage
    # triples schema survives the empty path
    assert res["triples"].columns == ["conv_id", "turn_idx", "subj", "pred", "obj"]


def test_hot_band_bucket_guard(spark):
    """Docs sharing a stop-surface band beyond the cap produce no pairs
    from that band; normal bands still match."""
    from ner_spark.functions.dedup import minhash_lsh_pairs

    # 30 identical "stop" docs (one giant band bucket) + 2 near-dup docs
    stop = [(i, "aaa bbb ccc ddd eee fff") for i in range(100, 130)]
    pair = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(stop + pair, "doc_id long, text string")

    unguarded = minhash_lsh_pairs(df, threshold=0.5, k=3)
    assert unguarded.where(F.col("id_a") >= 100).count() == 30 * 29 / 2

    guarded = minhash_lsh_pairs(df, threshold=0.5, k=3, max_band_bucket=10)
    got = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    # the hot bucket (30 members > cap) is dropped entirely...
    assert all(a < 100 for (a, b) in got)
    # ...while the small band still yields the true near-dup pair
    assert (1, 2) in got


def test_cc_numeric_node_ids_local_path(spark):
    """Regression: the adaptive local CC path must handle non-string ids
    (it previously hardcoded a string schema)."""
    from ner_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "src long, dst long")
    got = {
        (r["node_id"], r["component"])
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)}


def test_encode_empty_arrays(spark):
    """Regression: sequence(0, -1) descends — zero-length inputs must
    yield empty piece/label arrays, not spurious elements or errors."""
    from ner_spark.operators.encode import spans_to_bio_col, subword_pieces_col

    df = spark.createDataFrame(
        [([],)], "toks array<string>"
    ).select(
        subword_pieces_col(F.col("toks")).alias("pieces"),
        spans_to_bio_col(
            F.array().cast("array<struct<index:array<int>,type:string>>"),
            F.lit(0),
        ).alias("labels"),
    )
    row = df.collect()[0]
    assert row["pieces"] == [] and row["labels"] == []


def test_token_id_lookup_null_tokens_both_paths(spark):
    import ner_spark.sources.tables as tb

    df = spark.createDataFrame(
        [(["aa"],), (None,)], "tokens array<string>"
    )
    vocab = spark.createDataFrame([("aa", 4)], "token string, id int")
    for thresh in (8192, 0):
        old = tb.MAP_LITERAL_MAX_VOCAB
        try:
            tb.MAP_LITERAL_MAX_VOCAB = thresh
            rows = tb.token_id_lookup(df, vocab).collect()
            got = {tuple(r["tokens"]) if r["tokens"] else None: r["token_ids"] for r in rows}
            assert got[("aa",)] == [4]
            assert got[None] is None
        finally:
            tb.MAP_LITERAL_MAX_VOCAB = old


def test_near_dup_survivors_negative_ids(spark):
    """Regression: canonical id must be the NUMERIC minimum even for
    negative ids (plain zero-padding ordered '-5' before '-7')."""
    from ner_spark.functions.dedup import near_dup_survivors

    df = spark.createDataFrame(
        [
            (-7, "alpha beta gamma delta epsilon zeta"),
            (-5, "alpha beta gamma delta epsilon eta"),
            (3, "completely different text entirely here now"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["canonical_id"] for r in near_dup_survivors(df).collect()}
    assert got == {-7: -7, -5: -7, 3: 3}


def test_manifest_runs_are_isolated(spark, empty_transcripts, tmp_path_factory, fixtures_small):
    """Regression: two run_ids sharing an out_dir must not serve each
    other's data on resume — stage paths are run-scoped."""
    import os

    from ner_spark.pipeline import PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("runs"))
    full = spark.read.parquet(os.path.join(fixtures_small, "transcripts.parquet"))
    r_full = run_pipeline(spark, full, PipelineConfig(out_dir=out_dir, run_id="full"))
    n_full = r_full["triples"].count()
    assert n_full > 0

    r_empty = run_pipeline(
        spark, empty_transcripts, PipelineConfig(out_dir=out_dir, run_id="empty")
    )
    assert r_empty["triples"].count() == 0

    # resuming the FIRST run must still return its own (non-empty) data
    r_again = run_pipeline(spark, full, PipelineConfig(out_dir=out_dir, run_id="full"))
    assert r_again["triples"].count() == n_full


def test_empty_stage_resumes_without_recompute(spark, empty_transcripts, tmp_path_factory):
    """Regression: a legitimately-empty stage publishes a sentinel
    manifest row, so a resumed run skips it instead of recomputing."""
    from ner_spark.operators import manifest as mf
    from ner_spark.pipeline import PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("empty_resume"))
    run_pipeline(spark, empty_transcripts, PipelineConfig(out_dir=out_dir, run_id="e"))
    # every stage (all empty) has a complete sentinel
    man = mf.read_manifest(spark, out_dir).toPandas()
    # every stage publish = one 'superseded' retraction marker + its
    # 'complete' rows; nothing may be left in-flight: EVERY stage that
    # appears in the manifest must have reached a complete publish
    assert set(man["status"]) == {"complete", "superseded"}
    assert set(man.loc[man["status"] == "complete", "stage"]) == set(man["stage"])
    # completeness is fingerprint-scoped: query under the same weights
    # version the pipeline stamped
    from ner_spark.model.artifact import active_weights_version

    fp = active_weights_version()
    assert mf.stage_complete(spark, out_dir, "e", "triples", fingerprint=fp)
    assert mf.stage_complete(spark, out_dir, "e", "edges", fingerprint=fp)
    assert not mf.stage_complete(spark, out_dir, "e", "triples", fingerprint="other")


def test_load_vocabulary_line_number_is_id(spark, tmp_path):
    """S1 semantics (reference load_vocabulary): line number IS the id,
    reserved tokens first."""
    from ner_spark.sources.tables import load_vocabulary

    p = tmp_path / "vocab.txt"
    p.write_text("[PAD]\n[UNK]\n[SEP]\n[SPA]\nalpha\nbeta\n")
    rows = {r["token"]: r["id"] for r in load_vocabulary(spark, str(p)).collect()}
    assert rows == {"[PAD]": 0, "[UNK]": 1, "[SEP]": 2, "[SPA]": 3, "alpha": 4, "beta": 5}


def test_near_dup_survivors_int64_extremes(spark):
    """Regression: the id encoding must order correctly at BOTH int64
    extremes (an arithmetic offset would overflow near 2^62)."""
    from ner_spark.functions.dedup import near_dup_survivors

    big = (1 << 62) + 7
    lo = -(1 << 62) - 3
    df = spark.createDataFrame(
        [
            (big, "alpha beta gamma delta epsilon zeta"),
            (5, "alpha beta gamma delta epsilon eta"),
            (lo, "alpha beta gamma delta epsilon theta"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["canonical_id"] for r in near_dup_survivors(df).collect()}
    assert got == {big: lo, 5: lo, lo: lo}


def test_rolling_hash_edges_unicode_and_empty(spark):
    """Rolling-hash fingerprint: empty text hashes to 0, short and
    unicode texts produce the exact cross-engine reference values
    (ascii() = codepoint in both engines)."""
    from ner_spark.functions.text import fingerprint_rolling

    df = spark.createDataFrame(
        [("",), ("ab",), ("北京 test",)], "text string"
    ).select("text", fingerprint_rolling(F.col("text")).alias("f"))
    got = {r["text"]: r["f"] for r in df.collect()}
    assert got == {"": 0, "ab": 4260552829731, "北京 test": 932548459117539}


_MATERIALIZED_OVERRIDES = [
    ("alias_clusters", {"name_col": "entity_type"}),
    ("alias_clusters", {"block_col": None}),
    ("alias_clusters", {"max_dist": 1}),
    ("community_profiles", {"iters": 5}),
    ("supergraph", {"iters": 5}),
    ("perplexity_buckets", {"lam_micro": 500_000}),
    ("perplexity_buckets", {"text_col": "title"}),
]


@pytest.mark.parametrize(
    "op, override",
    _MATERIALIZED_OVERRIDES,
    ids=[f"{op}-{next(iter(kw))}" for op, kw in _MATERIALIZED_OVERRIDES],
)
def test_materialized_input_rejects_derivation_params(spark, op, override):
    """A materialized pairs=/labels=/scores= table fixes how it was
    derived; a non-default derivation parameter next to it is refused
    instead of silently ignored. Default values (passed or not) keep
    working."""
    from ner_spark.functions.corpus import bigram_logprob, perplexity_buckets
    from ner_spark.operators.alias import alias_clusters, alias_pairs
    from ner_spark.operators.graph import (
        community_profiles,
        label_propagation,
        supergraph,
    )

    if op == "alias_clusters":
        names = spark.createDataFrame(
            [("e1", "person", "jonathan"), ("e2", "person", "jonathaaan")],
            "entity_id string, entity_type string, canonical_name string",
        )
        call = alias_clusters
        args, kwargs = (names,), {"pairs": alias_pairs(names)}
    elif op == "perplexity_buckets":
        docs = spark.createDataFrame(
            [(1, "the cat sat", "a"), (2, "the dog sat", "b")],
            "doc_id long, text string, title string",
        )
        call = perplexity_buckets
        args, kwargs = (docs,), {"scores": bigram_logprob(docs)}
    else:
        edges = spark.createDataFrame(
            [("a1", "likes", "a2", 5), ("a2", "likes", "a3", 5)],
            "src_entity string, pred string, dst_entity string, n_turns bigint",
        )
        call = {"community_profiles": community_profiles, "supergraph": supergraph}[op]
        args, kwargs = (edges,), {"labels": label_propagation(edges, iters=3)}

    with pytest.raises(ValueError, match="materialized"):
        call(*args, **kwargs, **override)
    defaults = {"iters": 3} if "iters" in override else {}
    call(*args, **kwargs, **defaults)


def test_kg_link_and_cc_built_once_per_session(spark, fixtures_small, monkeypatch):
    """The link and CC queries and the canonical node / edge / triple
    tables share one session build of the link graph and its component
    assignment."""
    import ner_spark.entry_queries as eq
    from ner_spark.operators import components, linking

    monkeypatch.setattr(eq, "_SESSION_TABLES", {})
    calls = {"link_edges": 0, "connected_components": 0}

    def count_calls(module, name):
        fn = getattr(module, name)

        def counted(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, counted)

    count_calls(linking, "link_edges")
    count_calls(components, "connected_components")
    for name in (
        "kg_link_edges",
        "kg_canonical_map",
        "kg_graph_nodes",
        "kg_graph_edges",
        "kg_canonical_triples",
    ):
        assert eq.QUERIES[name](spark, fixtures_small).count() > 0, name
    assert calls == {"link_edges": 1, "connected_components": 1}


def test_session_table_evicts_other_sessions(monkeypatch):
    """A table is built once per session; the first request from a new
    session rebuilds it and drops every entry of the old session."""
    from types import SimpleNamespace

    import ner_spark.entry_queries as eq

    monkeypatch.setattr(eq, "_SESSION_TABLES", {})
    monkeypatch.setattr(eq, "_fx", lambda sf_dir: sf_dir)

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    old, new = session("app-old"), session("app-new")
    first = eq._session_table(old, "t", "fx", build)
    eq._session_table(old, "u", "fx", build)
    assert eq._session_table(old, "t", "fx", build) is first
    assert len(builds) == 2

    rebuilt = eq._session_table(new, "t", "fx", build)
    assert len(builds) == 3 and rebuilt is builds[-1] and rebuilt is not first
    assert list(eq._SESSION_TABLES) == [("app-new", "t", "fx")]
    assert eq._session_table(new, "t", "fx", build) is rebuilt
    assert len(builds) == 3
