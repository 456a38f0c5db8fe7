"""End-to-end train / score entry points — the engine-level equivalents
of the reference's three entry points (SURVEY.md §3):

* :func:`train` ↔ ``train.py`` (EP2): fit preprocessor + autoencoder,
  persist both under one model dir.
* :func:`score` ↔ ``scripts/run_pipeline.py`` (EP1/EP3): rules + ML
  scoring + combined verdict, one lazy plan per stage, writable with
  ``sources.writers``.

Unlike the reference there is no subprocess boundary and no CSV
exchange between stages — the "plan" is a DataFrame, Catalyst schedules
it, and the three scalar aggregates the reference materializes eagerly
(min date, q99, error mean/std — SURVEY.md §3 EP1 note) all stay lazy
as broadcast 1-row crossJoins inside the plan.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ml.autoencoder import NumpyAutoencoder, autoencoder_scores, train_autoencoder
from .ml.preprocess import fit_preprocessor, load_preprocessor, with_date_numeric
from .ml.scoring import fit_pca, pca_reconstruction_scores, with_ml_verdict
from .operators.rules import RuleConfig, with_rule_flags
from .functions.exprs import combine_fraud


def train(
    claims: DataFrame, model_dir: str, seed: int = 42, distributed: bool = False
) -> None:
    """EP2: fit preprocessing + autoencoder on a claims DataFrame and
    persist to ``model_dir`` (PipelineModel dir + weight JSON).

    ``distributed=False`` is bit-for-bit reference parity
    (``train.py:64-81``: in-memory minibatch Adam on the driver —
    correct at the reference's 30–10k-row scale). ``distributed=True``
    switches to full-batch Adam over the features DataFrame: features
    of at most ``ml.autoencoder._DRIVER_FIT_MAX_BYTES`` are collected
    once and trained on the driver, larger ones stay on the executors
    and only per-partition gradients travel — the setting for any
    corpus that doesn't fit one machine."""
    from .ml.autoencoder import train_autoencoder_distributed

    pre, feats = fit_preprocessor(claims)
    pre.write().overwrite().save(os.path.join(model_dir, "preprocessor"))
    if distributed:
        model, _losses = train_autoencoder_distributed(feats, seed=seed)
    else:
        x = np.stack(
            [
                np.asarray(r["farr"], dtype=np.float64)
                for r in feats.select(
                    vector_to_array(F.col("features")).alias("farr")
                ).collect()
            ]
        )
        model = train_autoencoder(x, seed=seed)
    with open(os.path.join(model_dir, "autoencoder.json"), "w") as f:
        json.dump(model.state(), f)


def score(
    claims: DataFrame,
    model_dir: str | None = None,
    cfg: RuleConfig = RuleConfig(),
    scorer: str = "auto",
) -> DataFrame:
    """EP1/EP3: the full reference pipeline on one DataFrame.

    ``scorer``: 'autoencoder' (requires model_dir), 'pca' (self-fit,
    Spark-native), or 'auto' (autoencoder if a model dir is given).
    Thresholding is batch-relative (reference M6 semantics).
    """
    flagged = with_rule_flags(claims, cfg)

    if scorer == "auto":
        scorer = "autoencoder" if model_dir else "pca"

    row_key = "_row_id"
    # Deterministic CONTENT-BASED row key (ADVICE r7 medium): md5 of the
    # full row disambiguated by a row_number within identical-row groups.
    # Unlike monotonically_increasing_id, a recomputation (cache eviction,
    # executor loss, a later score() call swapping the cache) re-derives
    # the same keys, so the feature-branch / join-back alignment can never
    # silently drift. Byte-identical rows may swap rank between
    # evaluations, but identical rows have identical features and hence
    # identical scores — any pairing among them is correct. The window
    # shuffles on uniformly-distributed md5 keys (skew-free at any scale).
    from pyspark.sql import Window

    from .cache import swap_cache

    row_md5 = F.md5(
        F.to_json(F.struct(*[F.col(c) for c in flagged.columns]))
    )
    w = Window.partitionBy("_row_md5").orderBy("_row_md5")
    flagged = (
        flagged.withColumn("_row_md5", row_md5)
        .withColumn(
            row_key,
            F.concat_ws(
                "#", F.col("_row_md5"), F.row_number().over(w).cast("string")
            ),
        )
        .drop("_row_md5")
    )
    # The cache is now purely a performance optimization (avoids
    # re-running the scan + key window once per consumer); correctness no
    # longer depends on cache residency, so the bounded shared key is safe
    # even across interleaved score() calls.
    flagged = swap_cache("pipeline.score.flagged", flagged)

    if scorer == "autoencoder":
        pre = load_preprocessor(os.path.join(model_dir, "preprocessor"))
        with open(os.path.join(model_dir, "autoencoder.json")) as f:
            model = NumpyAutoencoder.from_state(json.load(f))
        feats = pre.transform(with_date_numeric(flagged))
        errs = autoencoder_scores(feats, model, id_cols=[row_key])
    else:
        _, feats = fit_preprocessor(flagged)
        errs = pca_reconstruction_scores(feats).select(
            row_key, "ReconstructionError"
        )

    scored = flagged.join(errs, row_key).drop(row_key)
    # batch-relative threshold as a lazy broadcast 1-row crossJoin — the
    # scalar barrier stays inside the Catalyst plan; no job runs until
    # the caller's action (VERDICT r2 item 4)
    scored = with_ml_verdict(scored)
    return scored.withColumn(
        "FraudType", combine_fraud(F.col("RuleFraud"), F.col("MLFraud"))
    )
