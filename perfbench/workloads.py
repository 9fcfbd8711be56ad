"""Sessions, output digests and the benchmark's rep kinds.

A rep kind holds its seeded input and expected outputs (built once, before
any session starts), runs one rep against a session, and checks the rep's
output after its clock stops. ``Runner`` times and checks reps and counts
attempts and failures.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
import zlib
from contextlib import contextmanager, nullcontext

from perfbench import oracle

REP_TIMEOUT_S = 120  # a rep still running after this is cancelled and failed
KG_RUN_ID = "run-0"  # PipelineConfig's default run id
SEP, SALT = "\x1f", "\x1e"  # column separator and second-hash salt of digests


def log(msg: str) -> None:
    import sys

    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- sessions ---------------------------------------------------------------------

def setup(extra_conf=None):
    """What every ``run_pipeline.py`` invocation pays before its first
    stage: the session start and the executor weights probe. Returns
    (session, start seconds, probe seconds)."""
    from ner_spark.model.artifact import verify_executor_weights
    from ner_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    verify_executor_weights(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


@contextmanager
def rep_timeout(spark):
    timer = threading.Timer(REP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


# --- output digests -----------------------------------------------------------------

def digest_exprs(cols):
    """Order-free digest of a frame: row count plus the sums of two CRC32
    hashes of each row's string-cast columns (``py_digest`` computes the
    same triple in plain Python)."""
    from pyspark.sql import functions as F

    row = F.concat_ws(SEP, *[F.col(c).cast("string") for c in cols])
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.crc32(row)), F.lit(0)).alias("a"),
        F.coalesce(F.sum(F.crc32(F.concat(row, F.lit(SALT)))), F.lit(0)).alias("b"),
    ]


def py_digest(rows) -> tuple:
    n = a = b = 0
    for r in rows:
        s = SEP.join(map(str, r)).encode()
        n += 1
        a += zlib.crc32(s)
        b += zlib.crc32(s + SALT.encode())
    return (n, a, b)


def noop_with_digest(df, cols) -> tuple:
    """Send ``df`` to the noop sink, collecting its digest during the write."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *digest_exprs(cols)).write.format("noop").mode("overwrite").save()
    r = obs.get
    return (r["n"], r["a"], r["b"])


def frame_digest(frame) -> tuple:
    return py_digest(frame.itertuples(index=False, name=None))


# --- rep kinds ----------------------------------------------------------------------

def _span(tracer, name):
    return tracer.span(name) if tracer else nullcontext()


class Extract:
    """The flagship slice: ``build_mentions`` -> ``mentions_to_triples`` ->
    noop sink over seeded transcripts; checked against the oracle triples."""

    name = "extract"
    warmup_reps = 4  # untimed; rep walls settle over the first few reps

    def __init__(self, seed: int, work: str, cores: int):
        self.path = os.path.join(work, "extract-transcripts.parquet")
        self.df = oracle.generate(oracle.TURNS["extract"], seed, self.path)
        self.expected = oracle.expected_outputs(self.df, cores)
        self.want = frame_digest(self.expected["triples"])
        self.items = len(self.df)
        self.properties = oracle.input_properties(self.df)
        self.last = None

    def open(self, spark) -> None:
        self.transcripts = spark.read.parquet(self.path)

    def run(self, spark, tracer=None, out_dir=None):
        from ner_spark import pipeline as P

        with _span(tracer, "tagging.build_mentions"):
            mentions = P.build_mentions(self.transcripts)
        with _span(tracer, "extraction.mentions_to_triples"):
            triples = P.mentions_to_triples(mentions)
        with _span(tracer, "sink.noop"):
            return noop_with_digest(triples, oracle.TRIPLE_COLS)

    def check(self, got) -> bool:
        self.last = got
        return got == self.want


class KgFull:
    """The 9-stage ``run_pipeline`` under its resume protocol, writing
    parquet into a fresh output directory; checked against the oracle's
    nodes, edges and canonical triples."""

    name = "kg_full"

    def __init__(self, seed: int, work: str, cores: int):
        self.path = os.path.join(work, "kg-transcripts.parquet")
        self.df = oracle.generate(oracle.TURNS["kg"], seed, self.path)
        self.expected = oracle.expected_outputs(self.df, cores)
        self.want = {
            name: frame_digest(self.expected[name])
            for name in ("nodes", "edges", "canonical_triples")
        }

    def open(self, spark) -> None:
        self.transcripts = spark.read.parquet(self.path)

    def run(self, spark, tracer=None, out_dir=None):
        from ner_spark.pipeline import PipelineConfig, run_pipeline

        run_pipeline(spark, self.transcripts, PipelineConfig(out_dir=out_dir))
        return out_dir

    def check(self, out_dir) -> bool:
        cols = {
            "nodes": oracle.NODE_COLS,
            "edges": oracle.EDGE_COLS,
            "canonical_triples": oracle.TRIPLE_COLS,
        }
        for name, want in self.want.items():
            t = published(out_dir, name, cols[name])
            if py_digest(zip(*(t.column(c).to_pylist() for c in cols[name]))) != want:
                return False
        return True


def published(out_dir: str, stage: str, cols=None):
    """A stage's published parquet, read with pyarrow: no Spark job."""
    import pyarrow.parquet as pq

    from ner_spark.operators.manifest import stage_data_path

    return pq.read_table(stage_data_path(out_dir, KG_RUN_ID, stage), columns=cols)


class KgLpa:
    """Label propagation (3 synchronous rounds) over the canonical KG of the
    seed's transcripts, which set-up builds with the oracle and writes as
    the edge table ``run_pipeline`` publishes; each rep's communities are
    checked against the oracle restatement."""

    name = "kg_lpa"
    warmup_reps = 5
    COLS = ["entity_id", "community"]

    def __init__(self, seed: int, work: str, cores: int):
        import pyarrow as pa
        import pyarrow.parquet as pq

        kg = KgFull(seed, work, cores)
        edge_rows = list(kg.expected["edges"].itertuples(index=False, name=None))
        self.path = os.path.join(work, "kg-edges.parquet")
        pq.write_table(pa.Table.from_pandas(kg.expected["edges"], preserve_index=False), self.path)
        self.want = py_digest(oracle.label_propagation(edge_rows))
        self.items = 1
        self.properties = {
            "entities": oracle.graph_nodes(edge_rows),
            "edges": len(edge_rows),
            "source_turns": len(kg.df),
        }

    def open(self, spark) -> None:
        self.edges = spark.read.parquet(self.path)

    def run(self, spark, tracer=None, out_dir=None):
        from ner_spark.operators import graph as G

        with _span(tracer, "graph.label_propagation"):
            return noop_with_digest(G.label_propagation(self.edges), self.COLS)

    def check(self, got) -> bool:
        return got == self.want


class Runner:
    """Times, checks and counts the reps of one rep kind."""

    def __init__(self, kind, work: str):
        self.kind = kind
        self.work = work
        self.attempted = 0
        self.failed = 0

    def rep(self, spark, tracer=None, label="rep"):
        """One rep; returns (wall seconds, ok, output). The check runs
        after the clock stops."""
        from ner_spark.functions.dedup import release_persisted_blocks

        self.attempted += 1
        out_dir = os.path.join(self.work, f"{self.kind.name}-out-{self.attempted}")
        got, ok = None, False
        t0 = time.perf_counter()
        try:
            with rep_timeout(spark), _span(tracer, f"rep.{self.kind.name}"):
                got = self.kind.run(spark, tracer, out_dir)
            w = time.perf_counter() - t0
            ok = self.kind.check(got)
        except Exception:
            w = time.perf_counter() - t0
            log(f"{self.kind.name} {label} raised:\n{traceback.format_exc()}")
        finally:
            release_persisted_blocks()
        if not ok:
            self.failed += 1
            log(f"{self.kind.name} {label}: wrong or missing output")
        return w, ok, got
