"""Versioned model-weights artifact: save / load / per-executor install.

The reference loads its trained model from a file artifact — ONNX graph
(/root/reference/predict.py:4), torch state_dict
(/root/reference/torch_version/predict_lstm.py:22-58) — and its README
documents shipping exactly such artifacts to Spark executors via
``spark-submit --archives`` (/root/reference/README.md:199-239). This
module is that path for the ner_spark tagger: the model's learned
parameters (CRF transition matrix, gazetteer boost table, scalar
hyper-parameters) serialize to one ``.npz`` file that ships with
``--files``/``--archives`` (or ``SparkContext.addFile``) and is
installed ONCE per executor Python worker; without an artifact the
deterministic built-in generator stands in, so tests and oracles are
self-contained.

The artifact carries a ``version`` string. ``run_pipeline`` stamps the
active version into every manifest row as the stage fingerprint —
publishing weights ``w2`` invalidates a manifest written under ``w1``,
so a resume after a model upgrade recomputes instead of silently
serving stale triples (the model analogue of the fixture-version rule).
"""

from __future__ import annotations

import os

import numpy as np

DEFAULT_ARTIFACT = "ner_spark_weights.npz"
ENV_VAR = "NER_SPARK_WEIGHTS"

# version of the BUILT-IN deterministic generator; a saved artifact
# defaults to it but may carry any caller-chosen version string
BUILTIN_VERSION = "builtin-w1"

_INSTALLED: dict = {"version": BUILTIN_VERSION, "checked": False}


def save_weights(path: str, version: str = BUILTIN_VERSION) -> str:
    """Serialize the tagger's ACTIVE parameter set to ``path`` (.npz) —
    the transitions/gazetteer/scalars currently installed (artifact or
    builtin), so a save after ``install_weights`` round-trips exactly
    the model that is running, never a mix of installed scalars with
    builtin tables.

    Contents: the (n_tags, n_tags) float32 CRF transitions (the analogue
    of the learned ``transitions:0`` tensor the reference's ONNX export
    returns, /root/reference/predict.py:19), the flattened gazetteer
    boost table, and the scalar hyper-parameters."""
    from ner_spark.fixtures.gazetteer import token_roles
    from ner_spark.model import tagger

    active_roles = tagger._TOKEN_ROLES if tagger._TOKEN_ROLES is not None else token_roles()
    toks: list[str] = []
    types: list[int] = []
    initials: list[bool] = []
    for tok, roles in sorted(active_roles.items()):
        for type_idx, is_initial in roles:
            toks.append(tok)
            types.append(type_idx)
            initials.append(is_initial)
    np.savez(
        path,
        version=np.array(version),
        transitions=np.asarray(tagger._TRANSITIONS, dtype=np.float32),
        gaz_token=np.array(toks, dtype=object),
        gaz_type=np.array(types, dtype=np.int32),
        gaz_initial=np.array(initials, dtype=bool),
        scalars=np.array(
            [tagger._GAZ_BOOST, tagger._O_BASE, tagger._NOISE_SCALE],
            dtype=np.float64,
        ),
    )
    return path


def load_weights(path: str) -> dict:
    with np.load(path, allow_pickle=True) as z:
        roles: dict[str, list[tuple[int, bool]]] = {}
        for tok, ti, ini in zip(z["gaz_token"], z["gaz_type"], z["gaz_initial"]):
            roles.setdefault(str(tok), []).append((int(ti), bool(ini)))
        return {
            "version": str(z["version"]),
            "transitions": z["transitions"].astype(np.float32),
            "roles": roles,
            "scalars": tuple(float(x) for x in z["scalars"]),
        }


def install_weights(w: dict) -> None:
    """Point the tagger at an artifact's parameters (process-wide).

    Replaces the module-level transition matrix, gazetteer table, and
    scalars, and clears the per-process logit memo so stale rows cannot
    leak across weight versions."""
    from ner_spark.model import tagger

    if "builtin_scalars" not in _INSTALLED:
        _INSTALLED["builtin_scalars"] = (
            tagger._GAZ_BOOST,
            tagger._O_BASE,
            tagger._NOISE_SCALE,
        )
    tagger._TRANSITIONS = w["transitions"].astype(np.float32)
    tagger._TOKEN_ROLES = w["roles"]
    tagger._GAZ_BOOST, tagger._O_BASE, tagger._NOISE_SCALE = w["scalars"]
    tagger._LOGIT_CACHE.clear()
    _INSTALLED["version"] = w["version"]


def reset_builtin() -> None:
    """Restore the deterministic built-in generator (test hygiene)."""
    from ner_spark.model import tagger

    tagger._TRANSITIONS = tagger.transitions()
    tagger._TOKEN_ROLES = None
    if "builtin_scalars" in _INSTALLED:
        tagger._GAZ_BOOST, tagger._O_BASE, tagger._NOISE_SCALE = _INSTALLED[
            "builtin_scalars"
        ]
    tagger._LOGIT_CACHE.clear()
    _INSTALLED["version"] = BUILTIN_VERSION
    _INSTALLED["checked"] = False


def _runtime_artifact_path() -> str | None:
    """Artifact location for THIS process: the ``NER_SPARK_WEIGHTS`` env
    var (driver-side or ``spark.executorEnv``), else the artifact name
    under the SparkFiles root (``spark-submit --files`` /
    ``sc.addFile``). Returns None when neither is present."""
    p = os.environ.get(ENV_VAR)
    if p and os.path.exists(p):
        return p
    try:
        from pyspark import SparkFiles

        p = SparkFiles.get(DEFAULT_ARTIFACT)
        if p and os.path.exists(p):
            return p
    except Exception:
        pass
    return None


def install_zip_reread_gate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk (idempotent,
    process-wide).

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py:setup_spark_files``). On CPython 3.11
    that makes every zip importer in ``sys.path_importer_cache`` re-parse
    its whole archive directory: a tagging worker holds 12 importers on
    ``pyspark.zip`` (~1.3k entries) and 2 on the spark-core jar (~5.4k),
    170-580 ms of worker CPU per task, all spent re-reading unchanged
    files.

    The gate stats the archive and calls the original only when
    ``(st_mtime_ns, st_size)`` differs from the last read or the stat
    fails, so a zip replaced on disk (a re-shipped ``--py-files``
    package) is still re-read. Importers that share an archive (one per
    package prefix) pick up the directory the last read stored in
    ``zipimport._zip_directory_cache``, so none keeps a stale listing."""
    import functools
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_gated", False):
        return
    read_keys: dict[str, tuple[int, int] | None] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is not None and read_keys.get(self.archive) == key:
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
            return
        original(self)
        read_keys[self.archive] = key

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def maybe_install_from_runtime() -> str:
    """Install the runtime-shipped artifact if one exists (memoized per
    process — this runs at the top of every mapInPandas batch iterator,
    so it must be a dict lookup after the first call). Returns the
    active weights version either way.

    The first call also installs ``install_zip_reread_gate``, which
    saves every later task in this Python worker the per-task re-parse
    of ``pyspark.zip`` and the spark-core jar (170-580 ms of CPU per
    task). It is installed here, inside the task, rather than from a
    ``spark.python.daemon.module``: a daemon module is imported before
    the per-task file set-up puts ``--py-files`` packages on
    ``sys.path``, so it could not live in this package, and every UDF
    that needs the weights already passes through this branch once per
    worker."""
    if not _INSTALLED["checked"]:
        install_zip_reread_gate()
        p = _runtime_artifact_path()
        if p is not None:
            # ``checked`` flips only AFTER a successful install: if the
            # load raises once (corrupt/transient read), a retried task in
            # the same reused Python worker must retry the load — or keep
            # raising — never silently fall back to builtin weights and
            # emit mixed-model output.
            install_weights(load_weights(p))
        _INSTALLED["checked"] = True
    return _INSTALLED["version"]


def active_weights_version() -> str:
    """The version the DRIVER resolves for manifest fingerprinting —
    same resolution order the executors use."""
    return maybe_install_from_runtime()


def verify_executor_weights(spark) -> str:
    """Assert the executor workers resolve the SAME weights version as
    the driver, via a tiny mapInPandas probe, and return that version.

    The failure this guards (either direction): the driver resolves an
    artifact the executors lack (env var set post-launch, ``--files``
    forgotten), or ``spark.executorEnv`` points executors at an artifact
    the driver never resolved — both would publish data under the wrong
    manifest fingerprint. Called unconditionally by ``run_pipeline``;
    costs one trivial job.

    Coverage is a SAMPLE of the worker pool (4 probe rows per core —
    round-robin repartitioning doesn't guarantee one row per worker, let
    alone per node), which reliably catches the homogeneous failure
    modes above; a per-node divergence (node-local artifact path missing
    on some hosts) needs the artifact shipped via ``--files``, which
    cannot diverge per node."""
    import pandas as pd

    driver_v = active_weights_version()
    n = spark.sparkContext.defaultParallelism * 4

    def probe(batches):
        from ner_spark.model.artifact import maybe_install_from_runtime

        v = maybe_install_from_runtime()
        for pdf in batches:
            yield pd.DataFrame({"v": [v] * len(pdf)})

    seen = {
        r["v"]
        for r in spark.range(n).repartition(n).mapInPandas(probe, "v string").collect()
    }
    if seen != {driver_v}:
        raise RuntimeError(
            f"weights-version mismatch: driver resolved {driver_v!r} but "
            f"executor workers resolved {sorted(seen)!r} — ship the "
            f"artifact with --files/--archives (or spark.executorEnv) so "
            f"every worker loads the same model"
        )
    return driver_v
