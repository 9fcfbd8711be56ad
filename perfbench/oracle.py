"""Seeded benchmark inputs and their plain-Python expected outputs.

Inputs come from ``ner_spark.fixtures.generator.generate_transcripts`` with
the benchmark's seed; the program only ever sees the parquet file written
here. Expected outputs restate ``ner_spark/fixtures/build.py:_build_into``
(row-wise oracle Viterbi, ``extract_bio``, ``kg.relate_mentions``, MinHash
LSH + Jaccard, union-find) so a rep is checked against an implementation
that shares no Spark operator code with it. The graph-analytics restatements
cover the operators whose output is exact integers and cheap to recompute.
"""

from __future__ import annotations

import multiprocessing as mp
from collections import Counter, defaultdict

import pandas as pd

# turns per workload input; see perfbench/README.md for why these sizes
TURNS = {"extract": 15_000, "kg": 9_000}

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj"]
NODE_COLS = ["entity_id", "entity_type", "canonical_name", "n_surfaces", "n_mentions"]
EDGE_COLS = ["src_entity", "pred", "dst_entity", "n_turns"]


def generate(n_turns: int, seed: int, path: str) -> pd.DataFrame:
    from ner_spark.fixtures.generator import generate_transcripts

    df = generate_transcripts(n_turns, seed)
    df.to_parquet(path, index=False)
    return df


def input_properties(df: pd.DataFrame) -> dict:
    toks = df["text"].str.split(" ")
    sizes = df.groupby("conv_id").size()
    return {
        "turns": int(len(df)),
        "conversations": int(len(sizes)),
        "hot_share": round(float(sizes.max()) / len(df), 4),
        "tokens_per_turn": round(float(toks.str.len().mean()), 2),
        "distinct_tokens": len({t for ts in toks for t in ts}),
    }


def _decode_chunk(texts: list[str]) -> list[list[str]]:
    from ner_spark.model.tagger import TAG_NAMES, token_logits_batch, transitions
    from ner_spark.oracle.reference import viterbi_decode

    trans = transitions()
    out = []
    for text in texts:
        unary = token_logits_batch([text.split(" ")])[0]
        out.append([TAG_NAMES[i] for i in viterbi_decode(unary, trans)])
    return out


def oracle_tags(texts: list[str], procs: int) -> list[list[str]]:
    """Row-wise oracle decode of every turn, split over ``procs`` spawned
    processes (the pure-Python decode is ~0.26 ms/turn on one core)."""
    if procs <= 1 or len(texts) < 2000:
        return _decode_chunk(texts)
    step = -(-len(texts) // (procs * 4))
    chunks = [texts[i : i + step] for i in range(0, len(texts), step)]
    with mp.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_decode_chunk, chunks)
    return [tags for part in parts for tags in part]


def expected_outputs(df: pd.DataFrame, procs: int) -> dict:
    """Expected triples and KG tables (nodes, edges, canonical triples)."""
    from ner_spark import kg
    from ner_spark.fixtures.build import _mention_spans
    from ner_spark.oracle.reference import extract_bio

    o = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    tokens = [t.split(" ") for t in o["text"]]
    tags = oracle_tags(list(o["text"]), procs)

    m_rows, t_rows = [], []
    for conv, ti, toks, tg in zip(o["conv_id"], o["turn_idx"], tokens, tags):
        ti = int(ti)
        for typ, txt, s, _e in _mention_spans(tg, toks):
            m_rows.append((conv, ti, typ, txt, s))
        for typ, txt in sorted(extract_bio(tg, toks)):
            t_rows.append((conv, ti, f"{conv}#{ti}", typ, txt))

    by_turn: dict = defaultdict(list)
    for conv, ti, typ, txt, s in m_rows:
        by_turn[(conv, ti)].append((typ, txt, s))
    rels = {
        (conv, ti) + r
        for (conv, ti), ms in by_turn.items()
        for r in kg.relate_mentions(ms)
    }

    def key(typ, txt):
        return kg.node_key(typ, kg.normalize_surface(txt))

    nodes = sorted({key(typ, txt) for _c, _t, typ, txt, _s in m_rows})
    shingles = {n: kg.char_shingles(n.split("|", 1)[1]) for n in nodes}
    buckets: dict = defaultdict(set)
    for n in nodes:
        for bk in kg.band_keys(n.split("|", 1)[0], kg.minhash_signature(shingles[n])):
            buckets[bk].add(n)
    cand = set()
    for members in buckets.values():
        ms = sorted(members)
        cand.update((ms[i], ms[j]) for i in range(len(ms)) for j in range(i + 1, len(ms)))
    links = [
        (a, b) for a, b in sorted(cand)
        if kg.jaccard(shingles[a], shingles[b]) >= kg.JACCARD_THRESHOLD
    ]
    cmap = kg.connected_components(nodes, links)

    n_mentions = Counter(cmap[key(typ, txt)] for _c, _t, typ, txt, _s in m_rows)
    n_surfaces = Counter(cmap[n] for n in nodes)
    node_rows = [
        (c, c.split("|", 1)[0], c.split("|", 1)[1], n_surfaces[c], n_mentions[c])
        for c in sorted(n_surfaces)
    ]
    e_turns: dict = defaultdict(set)
    ct = set()
    for conv, ti, st, sx, pred, ot, ox in rels:
        s_id, o_id = cmap[key(st, sx)], cmap[key(ot, ox)]
        e_turns[(s_id, pred, o_id)].add((conv, ti))
        ct.add((conv, ti, s_id, pred, o_id))
    edge_rows = [(s, p, d, len(v)) for (s, p, d), v in sorted(e_turns.items())]

    return {
        "triples": pd.DataFrame(t_rows, columns=TRIPLE_COLS),
        "nodes": pd.DataFrame(node_rows, columns=NODE_COLS),
        "edges": pd.DataFrame(edge_rows, columns=EDGE_COLS),
        "canonical_triples": pd.DataFrame(sorted(ct), columns=TRIPLE_COLS),
    }


# --- graph analytics restatements over the expected edge rows -------------

def analytics_seeds(edge_rows, k: int = 5) -> list[str]:
    """The ``k`` entities with the most out-edges (ties by id): the seed
    set for personalized PageRank and BFS."""
    out = Counter(s for s, _p, _d, _w in edge_rows)
    return [e for e, _n in sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def _undirected(edge_rows) -> dict[str, set]:
    adj: dict = defaultdict(set)
    for s, _p, d, _w in edge_rows:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    return adj


def degree_stats(edge_rows) -> list[tuple]:
    acc: dict = defaultdict(lambda: [0, 0, 0, 0])
    for s, _p, d, w in edge_rows:
        acc[s][0] += 1
        acc[s][2] += w
        acc[d][1] += 1
        acc[d][3] += w
    return [(e, *v) for e, v in acc.items()]


def triangle_count(edge_rows) -> list[tuple]:
    adj = _undirected(edge_rows)
    n = sum(
        len({c for c in adj[a] & adj[b] if c > b})
        for a in adj for b in adj[a] if a < b
    )
    return [(n,)]


def k_core(edge_rows, k: int = 2) -> list[tuple]:
    adj = {x: set(ns) for x, ns in _undirected(edge_rows).items()}
    changed = True
    while changed:
        low = [x for x, ns in adj.items() if len(ns) < k]
        changed = bool(low)
        for x in low:
            for y in adj.pop(x):
                if y in adj:
                    adj[y].discard(x)
    return [(x,) for x, ns in adj.items() if ns]


def bfs_hops(edge_rows, sources: list[str], max_hops: int = 4) -> list[tuple]:
    nxt: dict = defaultdict(set)
    for s, _p, d, _w in edge_rows:
        nxt[s].add(d)
    hops = {x: 0 for x in sources}
    frontier = set(sources)
    for h in range(1, max_hops + 1):
        frontier = {d for x in frontier for d in nxt[x]} - hops.keys()
        if not frontier:
            break
        hops.update((x, h) for x in frontier)
    return list(hops.items())


def label_propagation(edge_rows, iters: int = 3) -> list[tuple]:
    w: dict = defaultdict(int)
    for s, _p, d, n in edge_rows:
        if s != d:
            w[(s, d)] += n
            w[(d, s)] += n
    nbrs: dict = defaultdict(list)
    for (x, y), n in w.items():
        nbrs[x].append((y, n))
    labels = {x: x for x in nbrs}
    for _ in range(iters):
        new = {}
        for x, ys in nbrs.items():
            score: dict = defaultdict(int)
            for y, n in ys:
                score[labels[y]] += n
            new[x] = min(score.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return list(labels.items())


def graph_nodes(edge_rows) -> int:
    return len({s for s, *_ in edge_rows} | {d for _s, _p, d, _w in edge_rows})
