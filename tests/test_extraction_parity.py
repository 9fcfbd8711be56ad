"""Property-style parity: the vectorized extraction/decoding kernels must
match the row-wise oracle on randomized inputs bit-for-bit (SURVEY §7.4:
any drift eats the 0.05 P/R budget)."""

import numpy as np

from ner_spark.model.tagger import (
    ENTITY_TYPES,
    N_TAGS,
    TAG_NAMES,
    token_logits_batch,
    transitions,
    viterbi_batch,
)
from ner_spark.operators.extraction import _bio_segments, _extract_bioes_batch
from ner_spark.oracle.reference import extract_bio, extract_bioes, join_tokens, viterbi_decode


def _random_tags(rng, n):
    return [TAG_NAMES[rng.randint(N_TAGS)] for _ in range(n)]


def test_bio_segments_match_oracle_randomized():
    rng = np.random.RandomState(7)
    for trial in range(500):
        n = rng.randint(0, 14)
        tags = _random_tags(rng, n)
        words = [f"w{i}" for i in range(n)]
        segs = _bio_segments(tags)
        got = {(t, join_tokens(words[s:e])) for (s, e, t) in segs}
        assert got == extract_bio(tags, words), (trial, tags)


def test_bioes_batch_matches_oracle_randomized():
    rng = np.random.RandomState(11)
    import pandas as pd

    rows_bio, rows_tok, rows_attr = [], [], []
    for _ in range(400):
        n = rng.randint(0, 12)
        rows_bio.append([["O", "B", "I", "E", "S"][rng.randint(5)] for _ in range(n)])
        rows_tok.append([f"w{i}" for i in range(n)])
        rows_attr.append([ENTITY_TYPES[rng.randint(len(ENTITY_TYPES))] for _ in range(n)])
    got = _extract_bioes_batch(pd.Series(rows_bio), pd.Series(rows_tok), pd.Series(rows_attr))
    for ms, bio, toks, attrs in zip(got, rows_bio, rows_tok, rows_attr):
        want = extract_bioes(bio, toks, attrs)
        assert {(m["pred"], m["obj"]) for m in ms} == want


def test_batched_viterbi_matches_rowwise_oracle(monkeypatch):
    # ragged batch over more than two full row chunks plus one row long
    # enough to trip the padded-cell budget: the chunked DP must equal
    # per-row decode, including argmax tie-breaking
    from ner_spark.model import tagger

    chunk_sizes = []
    chunk = tagger._viterbi_chunk

    def recording_chunk(score_list, trans):
        chunk_sizes.append([s.shape[0] for s in score_list])
        return chunk(score_list, trans)

    monkeypatch.setattr(tagger, "_viterbi_chunk", recording_chunk)
    rng = np.random.RandomState(3)
    trans = transitions()
    vocab = ["acme", "power", "drill", "the", "order", "crimson", "oslo", "ada", "voss"]
    lengths = [0, 1, 0, 1] + list(rng.randint(0, 20, 480))
    # the 484 short rows fill three chunks and leave 100 for the last,
    # where 101 rows × 6k padded steps exceed the cell budget, so the
    # long row must decode on its own
    long_len = 6_000
    lengths.insert(150, long_len)
    token_lists = [[vocab[rng.randint(len(vocab))] for _ in range(n)] for n in lengths]
    logits = token_logits_batch(token_lists)
    batched = viterbi_batch(logits, trans)

    assert sum(len(c) == tagger._VITERBI_CHUNK for c in chunk_sizes) > 2
    assert [long_len] in chunk_sizes
    for lg, path in zip(logits, batched):
        assert list(path) == viterbi_decode(lg, trans)


def test_batched_viterbi_ties_and_degenerate():
    # all-equal scores: every argmax is a tie; both sides must pick index 0
    trans = np.zeros((3, 3))
    unary = [np.zeros((4, 3)), np.zeros((1, 3)), np.zeros((0, 3))]
    batched = viterbi_batch(unary, trans)
    assert list(batched[0]) == [0, 0, 0, 0]
    assert list(batched[1]) == [0]
    assert list(batched[2]) == []
