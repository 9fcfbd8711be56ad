"""Deterministic tiny tagger: hash-seeded per-token logits + CRF transitions.

This is the "model weights" artifact of the pipeline (FIXTURES.md F4). The
reference ships a trained BiLSTM-CRF whose inference decomposes into
  (a) a vectorizable per-position unary-score pass, and
  (b) a control-flow Viterbi DP over a learned (n_tags, n_tags) transition
      matrix — the decomposition the reference itself chose when exporting to
      ONNX (/root/reference/predict.py:11-24, README.md:92-118).
We keep exactly that decomposition but replace the learned network with a
deterministic pure function of the token string (md5-seeded logits plus a
gazetteer boost), so the plain-Python oracle and the Spark pipeline share
identical weights and any P/R mismatch can only come from pipeline
semantics, never the model (FIXTURES.md F4 rationale).

All functions here are NumPy-vectorized and process whole Arrow batches —
this module is what ``mapInPandas`` workers import once per executor
(the Spark analogue of /root/reference/predict_lstm.py:50-51 loading the
model once and reusing it across batches).
"""

from __future__ import annotations

import hashlib

import numpy as np

# 8 synthetic entity types (kept small like resume-zh's tag set rather than
# the 500-type e-commerce set — /root/reference/data/vocab_attr.txt).
ENTITY_TYPES = [
    "brand",
    "product",
    "color",
    "material",
    "size",
    "place",
    "org",
    "person",
]

# Fused BIO-attr tag vocabulary, id 0 = "O" (mirrors the scheme of
# /root/reference/data/vocab_bioattr.txt: O + B-/I- per attribute type).
TAG_NAMES = ["O"]
for _t in ENTITY_TYPES:
    TAG_NAMES.append(f"B-{_t}")
    TAG_NAMES.append(f"I-{_t}")
N_TAGS = len(TAG_NAMES)  # 17

_B_IDS = np.array([1 + 2 * i for i in range(len(ENTITY_TYPES))])
_I_IDS = np.array([2 + 2 * i for i in range(len(ENTITY_TYPES))])

_GAZ_BOOST = 6.0
_O_BASE = 2.2
_NOISE_SCALE = 1.0


def _hash_floats(key: str, n: int) -> np.ndarray:
    """Deterministic floats in [-1, 1) from md5(key), any process/seed."""
    out = np.empty(n, dtype=np.float64)
    i = 0
    ctr = 0
    while i < n:
        d = hashlib.md5(f"{key}\x00{ctr}".encode("utf-8")).digest()
        block = np.frombuffer(d, dtype="<u4").astype(np.float64)
        block = block / 2147483648.0 - 1.0  # [-1, 1)
        take = min(n - i, block.size)
        out[i : i + take] = block[:take]
        i += take
        ctr += 1
    return out


def transitions() -> np.ndarray:
    """CRF transition matrix (N_TAGS, N_TAGS), deterministic.

    Plays the role of the learned ``transitions:0`` tensor the reference's
    ONNX export returns (/root/reference/predict.py:19). Structure enforces
    BIO validity: I-t is only reachable from B-t/I-t; everything else gets
    small md5 noise so Viterbi paths are non-trivial.
    """
    T = _hash_floats("transitions", N_TAGS * N_TAGS).reshape(N_TAGS, N_TAGS) * 0.3
    for k, t in enumerate(ENTITY_TYPES):
        b, i = 1 + 2 * k, 2 + 2 * k
        T[:, i] -= 4.0  # any -> I-t penalized ...
        T[b, i] += 5.2  # ... except from B-t (net +1.2)
        T[i, i] += 4.8  # ... and from I-t (net +0.8)
    # float32 like the reference's ONNX-exported transitions tensor
    # (/root/reference/predict.py:19 — onnxruntime outputs are float32);
    # also halves the DP's memory traffic, which is what bounds multi-core
    # scaling of the decode.
    return T.astype(np.float32)


_TRANSITIONS = transitions()

# Per-executor memo of token -> logit row. Grows with the observed vocab
# (a few thousand entries); equivalent to the reference's embedding matrix
# being resident once per process.
_LOGIT_CACHE: dict[str, np.ndarray] = {}


def _gazetteer_maps():
    """Lazy import to avoid a circular module dependency."""
    from ner_spark.fixtures.gazetteer import token_roles

    return token_roles()


_TOKEN_ROLES = None


def _token_logits(token: str) -> np.ndarray:
    global _TOKEN_ROLES
    if _TOKEN_ROLES is None:
        _TOKEN_ROLES = _gazetteer_maps()
    low = token.lower()
    v = _hash_floats("tok\x01" + low, N_TAGS) * _NOISE_SCALE
    v[0] += _O_BASE
    roles = _TOKEN_ROLES.get(low)
    if roles:
        for type_idx, is_initial in roles:
            if is_initial:
                v[1 + 2 * type_idx] += _GAZ_BOOST
            else:
                v[2 + 2 * type_idx] += _GAZ_BOOST
    return v.astype(np.float32)  # float32 logits, as the ONNX runtime emits


def token_logits_batch(token_lists: list[list[str]]) -> list[np.ndarray]:
    """Unary scores per turn: list of (seq_len, N_TAGS) float64 arrays.

    Lower-cases before scoring (the reference's normalization step,
    /root/reference/torch_version/data_tools.py:157-159) while leaving the
    surface text untouched for extraction.
    """
    cache = _LOGIT_CACHE
    out = []
    for toks in token_lists:
        if toks:
            rows = []
            for t in toks:
                # key on the lowercased form — logits depend only on it,
                # so cased variants share one cache entry
                low = t.lower()
                r = cache.get(low)
                if r is None:
                    r = _token_logits(low)
                    cache[low] = r
                rows.append(r)
            out.append(np.stack(rows))
        else:
            out.append(np.zeros((0, N_TAGS), dtype=np.float32))
    return out


# rows per DP chunk: keeps the (CHUNK, T, T) float32 temporaries and the
# (CHUNK, S, T) trellis slab cache-resident per worker, so the DP streams
# from L2/L3 instead of DRAM — the decode is bandwidth-bound, and DRAM
# saturation is what caps multi-worker scaling (BENCH.md methodology).
_VITERBI_CHUNK = 128

# hard cap on padded cells (rows × padded-seq-len) per chunk: bounds the
# trellis slab at ~34 MB float32 even when a single turn is 100k+ tokens
# (SURVEY §7.4 "UDF memory") — a chunk always holds at least one row.
_VITERBI_CELL_BUDGET = 512 * 1024


def viterbi_batch(score_list: list[np.ndarray], trans: np.ndarray | None = None) -> list[np.ndarray]:
    """Batched max-plus Viterbi, length-sorted and chunk-vectorized.

    Same recurrence as the reference's NumPy decode
    (/root/reference/predict.py:31-60): trellis[t] = score[t] +
    max(trellis[t-1][:, None] + T, axis=0), argmax backpointers, traceback
    from the argmax of the last row. All arithmetic is float32 (the
    reference decodes float32 ONNX outputs); np.argmax tie-breaking
    (first max index) matches the row-wise oracle bit-for-bit.

    Physical layout: rows are decoded in length-sorted chunks (results
    scattered back to input order) so pad-to-chunk-max wastes almost
    nothing on mixed-length batches — the same trade the reference makes
    with per-batch dynamic padding (utils.py:103-108) — and each chunk is
    bounded by both ``_VITERBI_CHUNK`` rows and ``_VITERBI_CELL_BUDGET``
    padded cells, so a degenerate ultra-long turn can never blow up
    worker memory. Chunking and ordering only change padding, never
    per-row values (each row's DP is independent).
    """
    if trans is None:
        trans = _TRANSITIONS
    trans = trans.astype(np.float32, copy=False)
    n = len(score_list)
    order = sorted(range(n), key=lambda i: score_list[i].shape[0])
    out: list[np.ndarray | None] = [None] * n
    i = 0
    while i < n:
        j = i
        max_s = 0
        while j < n and (j - i) < _VITERBI_CHUNK:
            s = score_list[order[j]].shape[0]
            new_max = max(max_s, s)
            if j > i and (j - i + 1) * new_max > _VITERBI_CELL_BUDGET:
                break
            max_s = new_max
            j += 1
        idx = order[i:j]
        res = _viterbi_chunk([score_list[x] for x in idx], trans)
        for x, r in zip(idx, res):
            out[x] = r
        i = j
    return out  # type: ignore[return-value]


def _viterbi_chunk(score_list: list[np.ndarray], trans: np.ndarray) -> list[np.ndarray]:
    B = len(score_list)
    if B == 0:
        return []
    lens = np.array([s.shape[0] for s in score_list])
    S = int(lens.max(initial=0))
    if S == 0:
        return [np.zeros(0, dtype=np.int64) for _ in score_list]
    T = trans.shape[0]
    # [step, row, tag]: each step reads one contiguous (B, T) slab. Steps
    # past a row's length hold zeros; their values are never read back.
    scores = np.zeros((S, B, T), dtype=np.float32)
    for b, s in enumerate(score_list):
        scores[: s.shape[0], b] = s
    trans_by_next = np.ascontiguousarray(trans.T)  # [next, prev]
    # rows whose last step is t: their trellis row is final after step t
    ends: dict[int, list[int]] = {}
    for b, L in enumerate(lens):
        ends.setdefault(int(L) - 1, []).append(b)

    backp = np.empty((S, B, T), dtype=np.int8)  # T=17 fits int8
    final = np.empty((B, T), dtype=np.float32)
    cur = scores[0].copy()
    v = np.empty((B, T, T), dtype=np.float32)
    bp = np.empty((B, T), dtype=np.intp)
    # flat offset of v[row, next, 0]: v.flat[base + bp] is the max
    # that argmax picked, so max and argmax come from one reduction
    base = np.arange(B * T) * T
    for t in range(S):
        if t:
            # [row, next, prev], the reduction axis contiguous
            np.add(cur[:, None, :], trans_by_next, out=v)
            np.argmax(v, axis=2, out=bp)
            np.add(scores[t], v.ravel()[base + bp.ravel()].reshape(B, T), out=cur)
            backp[t] = bp
        rows = ends.get(t)
        if rows is not None:
            final[rows] = cur[rows]

    # traceback of all rows at once; a row joins at its own last step
    last_tag = final.argmax(axis=1)
    row_idx = np.arange(B)
    paths = np.empty((B, S), dtype=np.int64)
    tags = np.zeros(B, dtype=np.intp)
    for t in range(S - 1, -1, -1):
        rows = ends.get(t)
        if rows is not None:
            tags[rows] = last_tag[rows]
        paths[:, t] = tags
        if t:
            tags = backp[t, row_idx, tags]
    return [paths[b, :L] for b, L in enumerate(lens)]


_TAG_NAME_ARRAY = np.array(TAG_NAMES, dtype=object)


def tag_id_to_name(ids: np.ndarray) -> list[str]:
    return _TAG_NAME_ARRAY[ids].tolist()


def tag_tokens_batch(token_lists: list[list[str]]) -> list[list[str]]:
    """Full decode for a batch: tokens -> BIO tag strings per turn."""
    logits = token_logits_batch(token_lists)
    paths = viterbi_batch(logits)
    return [tag_id_to_name(p) for p in paths]
