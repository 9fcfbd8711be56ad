"""Tagging operator: vectorized forward pass + batched NumPy Viterbi.

Spark restatement of the reference's inference path (SURVEY §3 EP3): the
reference splits inference into a vectorizable NN forward in a columnar
runtime plus a control-flow Viterbi DP in NumPy
(/root/reference/predict.py:24,63-65 — chosen because ONNX cannot express
the CRF decode's ``Switch`` control flow, README.md:92-118). Here the
columnar runtime is Spark itself: ``mapInPandas`` streams Arrow record
batches into a Python worker where the deterministic model (weights
resident once per executor — the analogue of
/root/reference/torch_version/predict_lstm.py:50-51) scores every token of
the batch at once and a *batch-vectorized* Viterbi (one DP loop over time,
all rows in parallel) decodes tag ids.

Padding is per Arrow batch (dynamic batch max, exactly the reference's
pad-to-batch-max trade — /root/reference/utils.py:103-108), sized by
``spark.sql.execution.arrow.maxRecordsPerBatch``.

Per-task cost outside the UDF: pyspark's worker calls
``importlib.invalidate_caches()`` before every task, which on CPython 3.11
re-parses the directory of every zip on the worker's import path
(``pyspark.zip`` and the spark-core jar, 14 importers in a tagging
worker) — 170-580 ms of CPU per task. ``maybe_install_from_runtime``,
which both iterators below call first, installs
``artifact.install_zip_reread_gate`` once per worker, so later tasks
re-read an archive only when it changed on disk.
It lives there rather than in a ``spark.python.daemon.module`` because a
``--py-files`` package is importable only after the per-task file set-up.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TAGS_FIELD = T.StructField("tags", T.ArrayType(T.StringType()), False)


def tag_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append a ``tags`` column (BIO tag string per whitespace token).

    Row-local — no shuffle; Catalyst keeps upstream filters/pruning below
    the ArrowEvalPython node because mapInPandas preserves the schema
    contract declared here.
    """
    out_schema = T.StructType(df.schema.fields + [TAGS_FIELD])
    cols = [f.name for f in df.schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # heavy import inside the worker: weights + memo live per executor
        from ner_spark.model.artifact import maybe_install_from_runtime
        from ner_spark.model.tagger import tag_tokens_batch

        # artifact weights (--files/--archives/SparkFiles) install once
        # per worker process; memoized dict lookup afterwards
        maybe_install_from_runtime()
        for pdf in batches:
            token_lists = [t.split(" ") if t else [] for t in pdf[text_col]]
            pdf = pdf[cols].copy()
            pdf["tags"] = tag_tokens_batch(token_lists)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """JVM-side tokenization column (used by extraction and stats)."""
    return df.withColumn("tokens", F.split(F.col(text_col), " "))


def _mentions_field() -> T.StructField:
    # single source of truth for the mention record shape
    from ner_spark.operators.extraction import MENTION_TYPE

    return T.StructField("mentions", MENTION_TYPE, False)


def tag_and_extract(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused tag+extract: one mapInPandas stage appending ``tags`` AND
    ``mentions``.

    Running both in a single Python stage halves the JVM↔Python Arrow
    traffic of the hot path — the unfused plan serializes every batch
    back to the JVM after tagging only to ship it (plus a re-tokenized
    copy) straight into the extraction UDF. Tokenization happens once in
    Python and is shared by the tagger and the span extractor. Semantics
    are identical to ``tag_turns`` + ``extract_mentions_bio`` (asserted
    in tests); both remain available unfused for the decode-only and
    BIOES paths.
    """
    out_schema = T.StructType(
        df.schema.fields + [TAGS_FIELD, _mentions_field()]
    )
    cols = [f.name for f in df.schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ner_spark.model.artifact import maybe_install_from_runtime
        from ner_spark.model.tagger import tag_tokens_batch
        from ner_spark.operators.extraction import mention_dicts

        maybe_install_from_runtime()
        for pdf in batches:
            token_lists = [t.split(" ") if t else [] for t in pdf[text_col]]
            tags_col = tag_tokens_batch(token_lists)
            mentions = [
                mention_dicts(tags, toks)
                for toks, tags in zip(token_lists, tags_col)
            ]
            pdf = pdf[cols].copy()
            pdf["tags"] = tags_col
            pdf["mentions"] = mentions
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
