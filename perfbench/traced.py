"""The traced program behind ``--trace 1``, the same for every workload.

1. Single-core replay of the fused tag+extract worker body over the extract
   input (tagger and extraction layers).
2. Session A, no event log: extract warm-up reps, then an untraced rep.
3. Session B, event log on: an extract warm-up rep, then, with spans installed,
   a traced extract rep, one traced 9-stage ``run_pipeline`` rep, and the
   eight-operator analytics mix over the KG that rep published.
4. Per-layer metrics from the spans and the event log.

``spark.*`` and ``trace.coverage`` describe the traced section of the
workload asked for: the extract rep, or the analytics mix for
``kg_lpa``. ``trace.overhead`` compares the traced and untraced extract
reps, since a pipeline rep is too long to run three times (warm-up,
untraced, traced) within one run.
"""

from __future__ import annotations

import json
import os
import time
import traceback

from perfbench import oracle
from perfbench.trace import (
    Tracer,
    job_seconds,
    job_tasks,
    jobs_under,
    read_event_log,
    spark_metrics,
    tagging_metrics,
    top_level_coverage,
    wall,
)
from perfbench.workloads import (
    KG_RUN_ID,
    Extract,
    KgFull,
    Runner,
    log,
    noop_with_digest,
    published,
    py_digest,
    setup,
    shutdown,
)

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
REPLAY_BATCH_ROWS = 1024  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py


def install_spans(tracer: Tracer, captured: dict) -> None:
    """Wrap the public functions at each layer boundary."""
    from ner_spark import pipeline as P
    from ner_spark.model import artifact as A
    from ner_spark.operators import linking as L
    from ner_spark.operators import manifest as M

    tracer.patch(P, "run_stage", name=lambda *a, **k: f"stage.{a[3]}")
    tracer.patch(M, "stage_complete", "manifest.stage_complete")
    tracer.patch(M, "publish_stage", "manifest.publish")
    # the re-read job runs right after _partition_metrics builds its plan
    tracer.patch(M, "_partition_metrics", "manifest.reread", open_only=True)
    tracer.patch(A, "verify_executor_weights", "artifact.verify")
    tracer.patch(P, "build_mentions", "tagging.build_mentions")
    tracer.patch(P, "mentions_to_triples", "extraction.mentions_to_triples")
    tracer.patch(P, "extract_relations", "relate.extract_relations")
    tracer.patch(P, "link_edges", "linking.link_edges")
    tracer.patch(
        L, "scored_candidate_pairs", "linking.scored_candidate_pairs",
        after=lambda df: captured.__setitem__("pairs", df),
    )
    tracer.patch(P, "connected_components", "components.connected_components")
    tracer.patch(P, "materialize_nodes", "graph.materialize_nodes")
    tracer.patch(P, "materialize_edges", "graph.materialize_edges")
    tracer.patch(P, "canonicalize_triples", "components.canonicalize_triples")


def analytics_ops(G, seeds, seed_ids):
    """The read-only operator mix over the canonical edge table:
    (name, call, expected rows from the edge rows, or None to check the
    row count against the node count)."""
    return [
        ("pagerank", lambda e: G.pagerank(e), None),
        ("label_propagation", lambda e: G.label_propagation(e), oracle.label_propagation),
        ("k_core", lambda e: G.k_core(e), oracle.k_core),
        ("hits_scores", lambda e: G.hits_scores(e), None),
        ("personalized_pagerank", lambda e: G.personalized_pagerank(e, seeds), None),
        ("bfs_hops", lambda e: G.bfs_hops(e, seeds), lambda rows: oracle.bfs_hops(rows, seed_ids)),
        ("triangle_count", lambda e: G.triangle_count(e), oracle.triangle_count),
        ("degree_stats", lambda e: G.degree_stats(e), oracle.degree_stats),
    ]


def run_analytics(spark, tracer: Tracer, edges, edge_rows) -> tuple[int, int]:
    """Each analytics operator once, in its own span, to the noop sink.
    Returns (attempted, failed)."""
    from ner_spark.functions.dedup import release_persisted_blocks
    from ner_spark.operators import graph as G

    seed_ids = oracle.analytics_seeds(edge_rows)
    seeds = spark.createDataFrame([(s,) for s in seed_ids], "entity_id string")
    n_nodes = oracle.graph_nodes(edge_rows)
    ops = analytics_ops(G, seeds, seed_ids)
    failed = 0
    with tracer.span("rep.kg_analytics"):
        for name, call, restate in ops:
            try:
                with tracer.span(f"graph.{name}"):
                    out = call(edges)
                    got = noop_with_digest(out, out.columns)
                ok = got == py_digest(restate(edge_rows)) if restate else got[0] == n_nodes
            except Exception:
                log(f"graph.{name} raised:\n{traceback.format_exc()}")
                ok = False
            finally:
                release_persisted_blocks()
            if not ok:
                failed += 1
                log(f"graph.{name}: wrong output")
    return len(ops), failed


def replay(df) -> dict:
    """Single-core replay of the fused tag+extract worker body over the
    input in Arrow batches of REPLAY_BATCH_ROWS, timing each layer."""
    import pyarrow as pa

    from ner_spark.model import tagger
    from ner_spark.operators.extraction import mention_dicts

    cols = ["conv_id", "turn_idx", "role", "text"]
    batches = [
        pa.RecordBatch.from_pandas(df[cols].iloc[i : i + REPLAY_BATCH_ROWS], preserve_index=False)
        for i in range(0, len(df), REPLAY_BATCH_ROWS)
    ]
    memo = getattr(tagger, "_LOGIT_CACHE", {})
    memo_before = len(memo)
    arrow_s = emit_s = viterbi_s = spans_s = 0.0
    tokens = mentions = 0
    for b in batches:
        t0 = time.perf_counter()
        pdf = b.to_pandas()
        t1 = time.perf_counter()
        token_lists = [t.split(" ") if t else [] for t in pdf["text"]]
        logits = tagger.token_logits_batch(token_lists)
        t2 = time.perf_counter()
        tags = [tagger.tag_id_to_name(p) for p in tagger.viterbi_batch(logits)]
        t3 = time.perf_counter()
        ms = [mention_dicts(tg, tk) for tk, tg in zip(token_lists, tags)]
        t4 = time.perf_counter()
        pdf["tags"] = tags
        pdf["mentions"] = ms
        pa.RecordBatch.from_pandas(pdf, preserve_index=False)
        t5 = time.perf_counter()
        arrow_s += (t1 - t0) + (t5 - t4)
        emit_s += t2 - t1
        viterbi_s += t3 - t2
        spans_s += t4 - t3
        tokens += sum(map(len, token_lists))
        mentions += sum(map(len, ms))
    return {
        "tagger.emission_s": emit_s,
        "tagger.viterbi_s": viterbi_s,
        "tagger.arrow_convert_s": arrow_s,
        "tagger.tokens": tokens,
        "tagger.memo_hit_ratio": 1.0 - (len(memo) - memo_before) / tokens,
        "extraction.spans_s": spans_s,
        "extraction.mentions": mentions,
    }


def traced(workload: str, seed: int, work: str, cores: int) -> dict:
    from ner_spark.functions.dedup import release_persisted_blocks
    from ner_spark.operators.manifest import stage_data_path

    t_run = time.perf_counter()
    ex = Extract(seed, work, cores)
    metrics = replay(ex.df)  # before anything warms this process's tagger memo
    kg = KgFull(seed, work, cores)
    ex_runner, kg_runner = Runner(ex, work), Runner(kg, work)
    log(f"inputs, replay and expected outputs: {time.perf_counter() - t_run:.1f}s")

    def timed_extract(spark, warmups, tracer=None, label="untraced rep"):
        """Warm-up reps, then one timed extract rep; returns its wall."""
        ex.open(spark)
        for _ in range(warmups):
            ex_runner.rep(spark, label="warm-up rep")
        if tracer is not None:
            install_spans(tracer, captured)
        return ex_runner.rep(spark, tracer, label)[0]

    captured: dict = {}
    spark, start_s, verify_s = setup()
    metrics["session.start_s"] = start_s
    metrics["artifact.verify_s"] = verify_s
    untraced_s = timed_extract(spark, Extract.warmup_reps)
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, _s, _v = setup(dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir}))
    tracer = Tracer(spark.sparkContext)
    try:
        traced_s = timed_extract(spark, 1, tracer, "traced rep")
        log(f"extract reps done: {time.perf_counter() - t_run:.1f}s")
        kg.open(spark)
        _w, _ok, out_dir = kg_runner.rep(spark, tracer, label="traced rep")
        log(f"kg_full rep done: {time.perf_counter() - t_run:.1f}s")
        counts = {
            "relations": published(out_dir, "relations").num_rows,
            "link_edges": published(out_dir, "link_edges").num_rows,
            "entities": published(out_dir, "nodes").num_rows,
            "candidate_pairs": captured["pairs"].count(),
        }
        release_persisted_blocks()
        edges = spark.read.parquet(stage_data_path(out_dir, KG_RUN_ID, "edges"))
        edge_rows = list(kg.expected["edges"].itertuples(index=False, name=None))
        a_attempted, a_failed = run_analytics(spark, tracer, edges, edge_rows)
        log(f"analytics done: {time.perf_counter() - t_run:.1f}s")
    finally:
        tracer.restore()
        shutdown(spark)

    jobs = read_event_log(log_dir)
    ex_rep = tracer.named("rep.extract")[-1]
    kg_rep = tracer.named("rep.kg_full")[-1]
    rep = ex_rep if workload == "extract" else tracer.named("rep.kg_analytics")[-1]
    metrics.update(spark_metrics(jobs_under(jobs, tracer, [rep]), rep, cores))
    metrics.update(tagging_metrics(jobs_under(jobs, tracer, [ex_rep])))
    metrics.update(kg_layer_metrics(tracer, jobs, kg_rep, counts))
    metrics.update(analytics_metrics(tracer, jobs))
    metrics["extraction.triples"] = ex.last[0]
    metrics["trace.coverage"] = top_level_coverage(tracer, rep)
    metrics["trace.overhead"] = traced_s / untraced_s - 1.0

    runners = (ex_runner, kg_runner)
    attempted = sum(r.attempted for r in runners) + a_attempted
    failed = sum(r.failed for r in runners) + a_failed
    print("# " + json.dumps({
        "workload": workload, "seed": seed,
        "extract_untraced_s": untraced_s, "extract_traced_s": traced_s,
        "run_s": time.perf_counter() - t_run,
    }), flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def stage_span(tracer: Tracer, root: dict, stage: str) -> dict:
    ids = tracer.subtree_ids(root)
    return next(s for s in tracer.spans if s["id"] in ids and s["name"] == f"stage.{stage}")


def kg_layer_metrics(tracer: Tracer, jobs: list[dict], kg: dict, counts: dict) -> dict:
    ids = tracer.subtree_ids(kg)

    def spans(name):
        return [s for s in tracer.spans if s["id"] in ids and s["name"] == name]

    def stage_s(stage):
        return wall(stage_span(tracer, kg, stage))

    publishes = spans("manifest.publish")
    publish_jobs = jobs_under(jobs, tracer, publishes)
    return {
        "relate.stage_s": stage_s("relations"),
        "relate.relations": counts["relations"],
        "linking.surface_nodes_s": stage_s("surface_nodes"),
        "linking.link_edges_s": stage_s("link_edges"),
        "linking.candidate_pairs": counts["candidate_pairs"],
        "linking.edges": counts["link_edges"],
        "linking.yield": counts["link_edges"] / counts["candidate_pairs"],
        "components.assignment_s": stage_s("assignment"),
        "components.jobs": len(jobs_under(jobs, tracer, [stage_span(tracer, kg, "assignment")])),
        "components.entities": counts["entities"],
        "graph.nodes_s": stage_s("nodes"),
        "graph.edges_s": stage_s("edges"),
        "graph.canonical_triples_s": stage_s("canonical_triples"),
        "manifest.publish_s": sum(wall(s) for s in publishes),
        "manifest.publish_jobs": len(publish_jobs) / len(publishes),
        "manifest.stage_complete_s": sum(wall(s) for s in spans("manifest.stage_complete")),
        "manifest.reread_s": job_seconds(jobs_under(jobs, tracer, spans("manifest.reread"))),
        "manifest.written_mb": sum(t["written"] for t in job_tasks(publish_jobs)) / 1e6,
    }


def analytics_metrics(tracer: Tracer, jobs: list[dict]) -> dict:
    section = tracer.named("rep.kg_analytics")[-1]
    out: dict = {}
    total_s, total_jobs = 0.0, 0
    for s in tracer.spans:
        if s["parent"] != section["id"]:
            continue
        n_jobs = len(jobs_under(jobs, tracer, [s]))
        out[f"{s['name']}_s"] = wall(s)
        out[f"{s['name']}.jobs"] = n_jobs
        total_s += wall(s)
        total_jobs += n_jobs
    out["graph.ms_per_job"] = 1000.0 * total_s / total_jobs
    return out
