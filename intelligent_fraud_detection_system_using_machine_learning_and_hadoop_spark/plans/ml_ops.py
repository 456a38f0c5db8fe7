"""ML + streaming query bindings (SURVEY.md §2.10 M1–M7, §2.9).

Model-dependent outputs (learned features, reconstruction errors) are
not SQL-expressible → rows-only checks per the driver contract; their
semantics are pinned by tests/test_ml_streaming.py instead. The
streaming windowed aggregation IS oracle-checked: with an availableNow
trigger over static input it must equal the batch plan, so it shares
events_hourly's DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.evaluate import evaluate_binary
from ..ml.preprocess import fit_preprocessor
from ..ml.scoring import batch_threshold_df
from ..sources.readers import read_table
from ..streaming.jobs import (
    stream_distinct_pairs,
    stream_events_hourly,
    stream_sessionize,
    stream_user_stats_stateful,
)
from .catalog import _EVENTS_US, _sql_exact_double, REGISTRY, query

ORDERS_FEATURES = {
    "numeric_cols": ["o_totalprice", "DateNumeric"],
    "categorical_cols": ["o_orderstatus"],
}


def _orders_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..sources.readers import ensure_min_partitions

    from ..cache import swap_cache

    # both frames are multi-consumer: the INPUT feeds the StringIndexer
    # fit, the scaler-summary fit, and the transform; the FEATURES feed
    # the PCA fit, scoring map, threshold agg, and final materialization.
    # Without the caches every pass re-runs scan + transform chain
    # (measured 2.7× slower at sf0.1). Both registered in the bounded
    # swap-cache (eng/cache.py): one live copy per key per session.
    o = swap_cache(
        "ml.orders_input",
        ensure_min_partitions(read_table(spark, sf_dir, "orders")).withColumn(
            "DateNumeric",
            F.datediff(
                F.col("o_orderdate"),
                F.lit("1995-01-01").cast("timestamp"),
            ),
        ),
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )
    _, feats = fit_preprocessor(o, **ORDERS_FEATURES)
    return swap_cache(
        "ml.orders_features", feats, storage_level=StorageLevel.MEMORY_AND_DISK
    )


@query("ml_preprocess_features")
def ml_preprocess_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1–M3: StringIndexer→OneHot→Assemble→Standardize over orders
    (rows-only: learned scaling isn't SQL)."""
    from pyspark.ml.functions import vector_to_array

    feats = _orders_features(spark, sf_dir)
    return feats.select(
        "o_orderkey", vector_to_array(F.col("features")).alias("features")
    )


@query("anomaly_pca", bench=True)
def anomaly_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5/M6 Spark-native: PCA-subspace reconstruction error with the
    reference's batch-relative mean+2σ verdict (rows-only).

    Scored via the two-pass moments path
    (``ml/scoring.py::pca_scores_via_moments``): one tiny per-status
    aggregate reconstructs the exact standardized-feature covariance,
    the 6×6 eigensolve runs on the driver, and scoring is a pure column
    expression — ~3 Spark jobs total instead of the MLlib pipeline's ~8
    (which remains the attested M1–M3 surface in
    ``ml_preprocess_features``; a differential pytest pins that both
    paths produce identical errors)."""
    from ..ml.scoring import pca_scores_via_moments
    from ..sources.readers import ensure_min_partitions

    o = ensure_min_partitions(read_table(spark, sf_dir, "orders")).withColumn(
        "DateNumeric",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")),
    )
    scored = pca_scores_via_moments(
        o,
        id_cols=["o_orderkey"],
        numeric_cols=ORDERS_FEATURES["numeric_cols"],
        categorical_col=ORDERS_FEATURES["categorical_cols"][0],
        k=4,
    )
    # batch-relative cutoff as a broadcast 1-row crossJoin — the scalar
    # barrier stays inside this one plan (no driver .collect()).
    thr = batch_threshold_df(scored)
    return scored.crossJoin(F.broadcast(thr)).select(
        "o_orderkey",
        "ReconstructionError",
        F.when(F.col("ReconstructionError") > F.col("__ml_thr"), "Suspicious")
        .otherwise("Normal")
        .alias("ml_fraud"),
    )


@query("anomaly_autoencoder")
def anomaly_autoencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4/M5 at scale: seeded autoencoder (64→32→64, Adam, MSE) trained
    full-batch — per epoch each partition's sum-gradients merge in pid
    order and one Adam step follows. A feature matrix of at most
    ``_DRIVER_FIT_MAX_BYTES`` is collected once and trained on the driver
    (the reference's in-memory ``train.py:64-81`` scale); a larger one
    trains with one mapInPandas job per epoch and never leaves the
    executors. Scoring broadcasts the weights back out. Deterministic
    for a fixed partitioning (rows-only)."""
    from ..ml.autoencoder import autoencoder_scores, train_autoencoder_distributed

    feats = _orders_features(spark, sf_dir).select("o_orderkey", "features")
    model, _losses = train_autoencoder_distributed(feats, epochs=15, seed=42)
    return autoencoder_scores(feats, model, id_cols=["o_orderkey"])


@query("ml_evaluation")
def ml_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§7 step 7: precision/recall/F1 of the PCA detector against a
    deterministic proxy label (amount > exact p99) — the evaluation
    pass the reference never ran on its own labels (rows-only: depends
    on the fitted model)."""
    from ..functions.exprs import percentile_scalar_df

    o = read_table(spark, sf_dir, "orders")
    p99 = percentile_scalar_df(o, "o_totalprice", {"__p99": 0.99})
    scored = anomaly_pca(spark, sf_dir)
    labeled = (
        o.select("o_orderkey", "o_totalprice")
        .join(scored, "o_orderkey")
        .crossJoin(F.broadcast(p99))
        .withColumn("label", (F.col("o_totalprice") > F.col("__p99")).cast("int"))
    )
    return evaluate_binary(labeled, "label", F.col("ml_fraud") == "Suspicious")


@query("streaming_events_hourly", oracle=None)
def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: the events_hourly aggregation as an incremental Structured
    Streaming job (watermark + tumbling window, availableNow trigger).
    Shares the batch query's DuckDB oracle — the stream over static
    input must produce the batch answer exactly."""
    return stream_events_hourly(spark, sf_dir)


# the streaming query result must hash-match the batch oracle
REGISTRY["streaming_events_hourly"] = REGISTRY["streaming_events_hourly"].__class__(
    builder=REGISTRY["streaming_events_hourly"].builder,
    oracle=REGISTRY["events_hourly"].oracle,
    bench=False,
)


@query(
    "streaming_user_stats",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {_sql_exact_double("SUM(CAST(value AS DECIMAL(12,2)))", 2)} AS sum_value,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension: custom stateful operator via
    applyInPandasWithState — cumulative per-user stats across 8 genuine
    micro-batches (maxFilesPerTrigger=1). Must reduce to exactly the
    batch GROUP BY, which the oracle checks."""
    return stream_user_stats_stateful(spark, sf_dir)


@query(
    "streaming_distinct_pairs",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicates state): append-emits first
    occurrences; equals SELECT DISTINCT over the finite input."""
    return stream_distinct_pairs(spark, sf_dir)


@query("streaming_sessionize")
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (rows-only: the final
    watermark withholds sessions still open at end-of-input; pytest
    pins emitted ⊆ batch gaps-and-islands)."""
    return stream_sessionize(spark, sf_dir)


@query("streaming_rolling_anomaly", oracle=None)
def streaming_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 redesigned for streams: per-user rolling mean+2σ threshold in
    applyInPandasWithState with exact integer moments, over a
    time-ordered 4-micro-batch file stream. Shares the batch window
    query's oracle — ordered ingestion must reproduce it exactly."""
    from ..streaming.jobs import stream_rolling_anomaly

    return stream_rolling_anomaly(spark, sf_dir)


REGISTRY["streaming_rolling_anomaly"] = REGISTRY["streaming_rolling_anomaly"].__class__(
    builder=REGISTRY["streaming_rolling_anomaly"].builder,
    oracle=REGISTRY["rolling_anomaly_events"].oracle,
    bench=False,
)


@query("streaming_velocity_flags", oracle=None)
def streaming_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trailing-hour velocity screen as a live stream (VERDICT r11
    item 4): applyInPandasWithState holding exactly the last hour of
    (second, cents) per entity, tie-seconds processed as peer groups,
    time-ordered 4-micro-batch ingestion. Drained availableNow it must
    equal the batch RANGE-frame query row for row — it SHARES
    velocity_flags_events' DuckDB oracle (the stream_rolling_anomaly
    discipline)."""
    from ..streaming.jobs import stream_velocity_flags

    return stream_velocity_flags(spark, sf_dir)


REGISTRY["streaming_velocity_flags"] = REGISTRY["streaming_velocity_flags"].__class__(
    builder=REGISTRY["streaming_velocity_flags"].builder,
    oracle=REGISTRY["velocity_flags_events"].oracle,
    bench=False,
)


def _benford_events_oracle() -> str:
    """DuckDB twin of the drained streaming Benford screen — the batch
    benford_profile SQL (plans/data_ops.py::_benford_oracle) retargeted
    at (events.event_type, events.value): digit counts are the
    mergeable sufficient statistic, so the drained additive fold must
    equal this single-pass aggregation bit-for-bit."""
    from ..operators.fraud_stats import benford_oracle_case

    return f"""
    WITH d AS (
      SELECT event_type AS grp,
             CAST(substr(CAST(CAST(round(value * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0),
    obs AS (
      SELECT grp, digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM d GROUP BY grp, digit),
    spine AS (
      SELECT grp, digit
      FROM (SELECT DISTINCT grp FROM obs)
      CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS digit)),
    full_t AS (
      SELECT s.grp, s.digit,
             CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs
      FROM spine s LEFT JOIN obs o
        ON s.grp = o.grp AND s.digit = o.digit),
    tot AS (
      SELECT grp, digit, n_obs,
             CAST(SUM(n_obs) OVER (PARTITION BY grp) AS BIGINT) AS n_total,
             {benford_oracle_case()} AS expected_p
      FROM full_t),
    q AS (
      SELECT grp, digit, n_obs, n_total, expected_p,
             CAST(floor(
               (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_p)
               * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_p)
               / (CAST(n_total AS DOUBLE) * expected_p) * 1e9
             ) AS BIGINT) AS contrib_q
      FROM tot)
    SELECT grp AS event_type, digit, n_obs, n_total,
           CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_frac,
           expected_p,
           CAST(SUM(contrib_q) OVER (PARTITION BY grp) AS DOUBLE) / 1e9 AS chi2
    FROM q ORDER BY event_type, digit
    """


@query("streaming_structuring_orders", oracle=None)
def streaming_structuring_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amount-structuring screen as a live ledger stream
    (streaming/jobs.py::stream_structuring): per-entity exact count
    triples fold additively in foreachBatch (|entities|-row state,
    history never re-scanned), base rates and the decimal(38,0)
    cross-multiplied flags computed once on the drained state —
    drained availableNow ≡ the batch ``structuring_orders`` row for
    row, which the SHARED oracle attests."""
    from ..streaming.jobs import stream_structuring

    return stream_structuring(spark, sf_dir)


REGISTRY["streaming_structuring_orders"] = REGISTRY[
    "streaming_structuring_orders"
].__class__(
    builder=REGISTRY["streaming_structuring_orders"].builder,
    oracle=REGISTRY["structuring_orders"].oracle,
    bench=False,
)


@query("streaming_peer_outlier_orders", oracle=None)
def streaming_peer_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The peer-group outlier screen as a live ledger stream
    (streaming/jobs.py::stream_peer_outliers): per-batch broadcast
    enrichment with the static customer dimension, additive
    (n, Σcents, Σcents²) moment folds — the screen's mergeable
    sufficient statistic — and the leave-one-out z finish once on the
    drained state. Drained availableNow ≡ the batch
    ``peer_outlier_customers`` bit-for-bit (SHARED oracle)."""
    from ..streaming.jobs import stream_peer_outliers

    return stream_peer_outliers(spark, sf_dir)


REGISTRY["streaming_peer_outlier_orders"] = REGISTRY[
    "streaming_peer_outlier_orders"
].__class__(
    builder=REGISTRY["streaming_peer_outlier_orders"].builder,
    oracle=REGISTRY["peer_outlier_customers"].oracle,
    bench=False,
)


@query("streaming_fraud_risk_report", oracle=None)
def streaming_fraud_risk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED per-entity fraud-risk report as a live stream
    (streaming/jobs.py::stream_fraud_risk_report, VERDICT r12 item 4):
    one events feed, one applyInPandasWithState pass folding the
    velocity trailing-window slice + rollups, the burstiness gap
    moments, and the Benford digit counts per entity simultaneously;
    verdicts computed once on the drained state with the batch
    report's identical pinned expression trees. Drained availableNow ≡
    the batch ``fraud_risk_report_events`` bit-for-bit — attested by
    the SHARED full-chain oracle."""
    from ..streaming.jobs import stream_fraud_risk_report

    return stream_fraud_risk_report(spark, sf_dir)


REGISTRY["streaming_fraud_risk_report"] = REGISTRY[
    "streaming_fraud_risk_report"
].__class__(
    builder=REGISTRY["streaming_fraud_risk_report"].builder,
    oracle=REGISTRY["fraud_risk_report_events"].oracle,
    bench=False,
)


@query("streaming_dormancy_orders", oracle=None)
def streaming_dormancy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dormancy-reactivation screen as a live ledger stream
    (streaming/jobs.py::stream_dormancy_flags): one long of state per
    entity (the last seen epoch day) in applyInPandasWithState,
    date-ordered micro-batch ingestion with same-date ties never split
    (repartitionByRange), per-batch (date, orderkey) sort — so the
    per-entity walk IS the batch lag order and drained availableNow
    equals ``dormancy_reactivation_orders`` row for row, attested by
    the SHARED oracle."""
    from ..streaming.jobs import stream_dormancy_flags

    return stream_dormancy_flags(spark, sf_dir)


REGISTRY["streaming_dormancy_orders"] = REGISTRY[
    "streaming_dormancy_orders"
].__class__(
    builder=REGISTRY["streaming_dormancy_orders"].builder,
    oracle=REGISTRY["dormancy_reactivation_orders"].oracle,
    bench=False,
)


@query("streaming_benford_events", oracle=_benford_events_oracle())
def streaming_benford_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Benford first-digit screen as a live stream (streaming/
    jobs.py::stream_benford): per micro-batch exact digit counts fold
    additively in foreachBatch (state ≤ 9·|event types| rows, history
    never re-scanned — digit counts are the test's mergeable
    sufficient statistic), with the batch chi-square finish run once
    on the drained state. Drained availableNow ≡ the one-pass batch
    aggregation, attested bit-for-bit by the events-shaped Benford
    twin."""
    from ..streaming.jobs import stream_benford

    return stream_benford(spark, sf_dir)


@query(
    "mad_outliers_events",
    oracle="""
    WITH e AS (SELECT event_id, user_id, value FROM events),
    med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS m
      FROM e GROUP BY user_id),
    mad AS (
      SELECT e.user_id, quantile_cont(abs(e.value - med.m), 0.5) AS d
      FROM e JOIN med USING (user_id) GROUP BY e.user_id)
    SELECT e.event_id,
           abs(e.value - med.m) > 3 * mad.d AS is_outlier
    FROM e JOIN med USING (user_id) JOIN mad USING (user_id)
    """,
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier flag (median/MAD, the rank-based
    counterpart to mean+2σ) via grouped ``applyInPandas`` — the natural
    shape when per-group logic needs order statistics pandas computes
    in one vectorized shot. np.percentile interpolates with the same
    lo+(hi-lo)·frac formula as DuckDB's quantile_cont, so the boolean
    is cross-engine exact."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    out_type = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("is_outlier", T.BooleanType()),
        ]
    )

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy()
        m = float(np.percentile(v, 50))
        d = float(np.percentile(np.abs(v - m), 50))
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "is_outlier": np.abs(v - m) > 3 * d}
        )

    return e.groupBy("user_id").applyInPandas(per_user, schema=out_type)


@query("streaming_rate_window")
def streaming_rate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 non-file source: per-user minutely windowed agg over Spark's
    deterministic rate-micro-batch source (rows-only: the source is
    generated, not read from sf_dir; pytest pins exact equality against
    the closed-form batch twin — streaming/jobs.py::rate_events_batch_twin)."""
    from ..streaming.jobs import stream_rate_minutely

    return stream_rate_minutely(spark, n_rows=1000)


@query(
    "streaming_join_click_purchase",
    oracle=f"""
    WITH {{events_us}},
    c AS (SELECT user_id, event_id, ts FROM events_us WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events_us WHERE event_type = 'purchase')
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM c JOIN p ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """.format(events_us=_EVENTS_US),
)
def streaming_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream join: watermarked, time-bounded inner join of
    the click and purchase streams; over single-batch availableNow input
    it equals the batch interval join, which the oracle checks."""
    from ..streaming.jobs import stream_stream_click_purchase

    return stream_stream_click_purchase(spark, sf_dir)


@query(
    "streaming_left_outer_click_purchase",
    oracle=f"""
    WITH {{events_us}},
    c AS (SELECT user_id, event_id, ts FROM events_us WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events_us WHERE event_type = 'purchase')
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM c LEFT JOIN p ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """.format(events_us=_EVENTS_US),
)
def streaming_left_outer_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9's missing join flavor (VERDICT r10 item 6): stream-stream
    LEFT OUTER join with watermark null-emission — unmatched clicks
    emit a NULL purchase_id once the watermark proves no match can
    arrive. Null emission needs a batch AFTER the watermark advance, so
    the job stages both sides as ordered 3-file sources whose two
    far-future sentinel batches advance the (min-across-inputs) global
    watermark and trigger the eviction scan (streaming/jobs.py::
    stream_stream_click_purchase_left_outer). The drained result equals
    the batch LEFT interval join exactly, which this oracle attests."""
    from ..streaming.jobs import stream_stream_click_purchase_left_outer

    return stream_stream_click_purchase_left_outer(spark, sf_dir)


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-static join: stateless per-micro-batch broadcast
    enrichment of the event stream with the customer dimension — the
    remaining streaming join surface after the stream-stream join
    (no watermark/state; dimension broadcast per batch). Equals the
    batch left join over availableNow input, which the oracle checks."""
    from ..streaming.jobs import stream_static_enrich_events

    return stream_static_enrich_events(spark, sf_dir)


@query(
    "streaming_topk_trending",
    oracle=f"""
    WITH {_EVENTS_US},
    counts AS (
      SELECT date_trunc('hour', ts) AS hour_ts, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events_us GROUP BY date_trunc('hour', ts), event_type),
    r AS (
      SELECT hour_ts, event_type, n_events,
             CAST(row_number() OVER (
                    PARTITION BY hour_ts
                    ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk
      FROM counts)
    SELECT hour_ts, event_type, n_events, rnk FROM r WHERE rnk <= 3
    """,
)
def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension: windowed heavy hitters — top-3 trending event
    types per tumbling hour. The stream maintains incremental windowed
    counts; the rank runs once on the finished sink. Oracle-checked
    against the batch date_trunc + row_number plan."""
    from ..streaming.jobs import stream_topk_trending

    return stream_topk_trending(spark, sf_dir)


@query(
    "streaming_full_outer_click_purchase",
    oracle=f"""
    WITH {{events_us}},
    c AS (SELECT user_id, event_id, ts FROM events_us WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events_us WHERE event_type = 'purchase')
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM c FULL JOIN p ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """.format(events_us=_EVENTS_US),
)
def streaming_full_outer_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER join — the last of the three flavors
    (inner r7, left outer r11, full outer r11): unmatched purchases now
    also emit, as (NULL, purchase_id), on the same watermark-expiry
    eviction that flushes unmatched clicks (streaming/jobs.py::
    stream_stream_click_purchase_full_outer — both sides watermarked
    and time-bounded, so both sides' state is evictable). The drained
    result equals the batch FULL interval join, which this oracle
    attests."""
    from ..streaming.jobs import stream_stream_click_purchase_full_outer

    return stream_stream_click_purchase_full_outer(spark, sf_dir)


@query("streaming_split_transactions", oracle=None)
def streaming_split_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split-transaction screen as a live ledger stream
    (streaming/jobs.py::stream_split_transactions): per-entity
    trailing-30-day sub-threshold window maintained as a deque +
    running total inside ONE applyInPandasWithState pass (O(1)
    amortized per order), same-day ties processed as one symmetric
    peer group — drained date-ordered availableNow ≡ the batch
    ``split_transactions_orders`` row for row, which the SHARED oracle
    attests."""
    from ..streaming.jobs import stream_split_transactions

    return stream_split_transactions(spark, sf_dir)


REGISTRY["streaming_split_transactions"] = REGISTRY[
    "streaming_split_transactions"
].__class__(
    builder=REGISTRY["streaming_split_transactions"].builder,
    oracle=REGISTRY["split_transactions_orders"].oracle,
    bench=False,
)


@query("streaming_round_bias_orders", oracle=None)
def streaming_round_bias_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-number bias screen as a live ledger stream
    (streaming/jobs.py::stream_round_amount_bias): per micro-batch,
    exact (priority, n, n_round) counts fold additively through the
    bucketed parquet state store — counts are the mergeable
    sufficient statistic, so state is |priorities| rows and history
    is never re-scanned — and the shared
    ``round_amount_bias_from_counts`` finish runs once on the drained
    state. Drained availableNow ≡ the batch
    ``round_amount_bias_orders`` bit-for-bit, which the SHARED oracle
    attests."""
    from ..streaming.jobs import stream_round_amount_bias

    return stream_round_amount_bias(spark, sf_dir)


REGISTRY["streaming_round_bias_orders"] = REGISTRY[
    "streaming_round_bias_orders"
].__class__(
    builder=REGISTRY["streaming_round_bias_orders"].builder,
    oracle=REGISTRY["round_amount_bias_orders"].oracle,
    bench=False,
)


@query("streaming_rolling_wau", oracle=None)
def streaming_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives as a live stream
    (streaming/jobs.py::stream_rolling_wau): new distinct
    (user, day) pairs fold through the bucketed parquet state store
    per micro-batch — the pair set is the metric's sufficient
    statistic — and the interval-coverage finish runs once on the
    drained state. Drained availableNow ≡ the batch
    ``rolling_wau_events``, which the SHARED oracle attests."""
    from ..streaming.jobs import stream_rolling_wau

    return stream_rolling_wau(spark, sf_dir)


REGISTRY["streaming_rolling_wau"] = REGISTRY["streaming_rolling_wau"].__class__(
    builder=REGISTRY["streaming_rolling_wau"].builder,
    oracle=REGISTRY["rolling_wau_events"].oracle,
    bench=False,
)


@query("streaming_new_vs_returning", oracle=None)
def streaming_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning actives as a live stream
    (streaming/jobs.py::stream_new_vs_returning): the distinct
    (user, day) pair fold shared with streaming_rolling_wau, with the
    batch first-seen/day-spine finish run once on the drained state.
    Drained availableNow ≡ the batch ``new_vs_returning_events``,
    which the SHARED oracle attests."""
    from ..streaming.jobs import stream_new_vs_returning

    return stream_new_vs_returning(spark, sf_dir)


REGISTRY["streaming_new_vs_returning"] = REGISTRY[
    "streaming_new_vs_returning"
].__class__(
    builder=REGISTRY["streaming_new_vs_returning"].builder,
    oracle=REGISTRY["new_vs_returning_events"].oracle,
    bench=False,
)


@query("streaming_duplicate_charges", oracle=None)
def streaming_duplicate_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate-charge screen as a live stream (streaming/
    jobs.py::stream_duplicate_charges — VERDICT r15 item 6): one long
    of state per (entity, exact-cents) pair (the last seen epoch
    second) in applyInPandasWithState, ts-ordered micro-batch
    ingestion with same-second ties never split, per-batch
    (epoch_s, event_id) sort — so the per-key walk IS the batch lag
    order and drained availableNow equals
    ``duplicate_charges_events`` row for row, attested by the SHARED
    oracle."""
    from ..streaming.jobs import stream_duplicate_charges

    return stream_duplicate_charges(spark, sf_dir)


# bench=True (r19, VERDICT r18 item 8): the ONE timed streaming row.
# Shape-unique under the bench admission rule — the availableNow
# foreachBatch JVM parquet-fold (hash-bucketed committed state
# snapshot + per-batch lag-window/state join) is a stateful plan shape
# no batch row times, and every other stream op shares its machinery;
# without a timed row the family's perf regressions are invisible to
# the driver (they only surface in SCALING.md side-measurements).
REGISTRY["streaming_duplicate_charges"] = REGISTRY[
    "streaming_duplicate_charges"
].__class__(
    builder=REGISTRY["streaming_duplicate_charges"].builder,
    oracle=REGISTRY["duplicate_charges_events"].oracle,
    bench=True,
)


@query("streaming_last_digits", oracle=None)
def streaming_last_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last-two-digits uniformity screen as a live ledger stream
    (streaming/jobs.py::stream_last_digits): per micro-batch exact
    (priority, cents mod 100) counts fold additively through the
    bucketed parquet state store — digit counts are the test's
    mergeable sufficient statistic — and the shared
    ``last_digits_from_counts`` finish runs once on the drained
    state. Drained availableNow ≡ the batch ``last_digits_orders``
    bit-for-bit, which the SHARED oracle attests."""
    from ..streaming.jobs import stream_last_digits

    return stream_last_digits(spark, sf_dir)


REGISTRY["streaming_last_digits"] = REGISTRY["streaming_last_digits"].__class__(
    builder=REGISTRY["streaming_last_digits"].builder,
    oracle=REGISTRY["last_digits_orders"].oracle,
    bench=False,
)


@query("streaming_pettitt", oracle=None)
def streaming_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pettitt changepoint screen as a live stream (streaming/
    jobs.py::stream_pettitt): exact per-(series, day) cents totals
    fold additively through the bucketed parquet state store — the
    daily totals are the test's mergeable sufficient statistic — and
    the rank/cumulative finish runs once on the drained state.
    Drained availableNow ≡ the batch ``pettitt_events`` bit-for-bit,
    which the SHARED oracle attests."""
    from ..streaming.jobs import stream_pettitt

    return stream_pettitt(spark, sf_dir)


REGISTRY["streaming_pettitt"] = REGISTRY["streaming_pettitt"].__class__(
    builder=REGISTRY["streaming_pettitt"].builder,
    oracle=REGISTRY["pettitt_events"].oracle,
    bench=False,
)


@query("streaming_mann_kendall", oracle=None)
def streaming_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Mann–Kendall trend screen as a live stream (streaming/
    jobs.py::stream_mann_kendall): the same additive daily-totals
    fold, with the exact pair-join finish run once on the drained
    state. Drained availableNow ≡ the batch ``mann_kendall_events``
    bit-for-bit, which the SHARED oracle attests."""
    from ..streaming.jobs import stream_mann_kendall

    return stream_mann_kendall(spark, sf_dir)


REGISTRY["streaming_mann_kendall"] = REGISTRY["streaming_mann_kendall"].__class__(
    builder=REGISTRY["streaming_mann_kendall"].builder,
    oracle=REGISTRY["mann_kendall_events"].oracle,
    bench=False,
)


@query("streaming_seasonal_mann_kendall", oracle=None)
def streaming_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Hirsch–Slack seasonal MK screen as a live stream
    (streaming/jobs.py::stream_seasonal_mann_kendall): the SAME
    additive daily-totals fold as the plain MK twin, with the exact
    per-weekday pair-join finish run once on the drained state.
    Drained availableNow ≡ the batch ``seasonal_mann_kendall_events``
    bit-for-bit, which the SHARED oracle attests."""
    from ..streaming.jobs import stream_seasonal_mann_kendall

    return stream_seasonal_mann_kendall(spark, sf_dir)


REGISTRY["streaming_seasonal_mann_kendall"] = REGISTRY[
    "streaming_seasonal_mann_kendall"
].__class__(
    builder=REGISTRY["streaming_seasonal_mann_kendall"].builder,
    oracle=REGISTRY["seasonal_mann_kendall_events"].oracle,
    bench=False,
)


@query("streaming_cross_entity_duplicates", oracle=None)
def streaming_cross_entity_duplicates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The cross-entity duplicate-amount screen as a live stream
    (streaming/jobs.py::stream_cross_entity_duplicates): distinct
    (cents, window, entity) triples fold additively with per-triple
    count/min/max, the |triples|-row entity-count finish runs once on
    the drained state. Drained availableNow ≡ the batch
    ``cross_entity_duplicates_events`` bit-for-bit, which the SHARED
    oracle attests."""
    from ..streaming.jobs import stream_cross_entity_duplicates

    return stream_cross_entity_duplicates(spark, sf_dir)


REGISTRY["streaming_cross_entity_duplicates"] = REGISTRY[
    "streaming_cross_entity_duplicates"
].__class__(
    builder=REGISTRY["streaming_cross_entity_duplicates"].builder,
    oracle=REGISTRY["cross_entity_duplicates_events"].oracle,
    bench=False,
)


@query("streaming_impossible_velocity", oracle=None)
def streaming_impossible_velocity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The impossible-velocity screen as a live stream
    (streaming/jobs.py::stream_impossible_velocity): state is each
    entity's chain head — the latest (epoch_s, event_id, event_type)
    under max_by, the screen's mergeable sufficient statistic — folded
    through the hash-bucketed parquet snapshot; per batch one
    entity-keyed lag window + one null-safe state join + the broadcast
    floor join. Drained availableNow ≡ the batch
    ``impossible_velocity_events`` bit-for-bit, which the SHARED
    oracle attests (r18; the duplicate-charges fold shape at entity
    grain)."""
    from ..streaming.jobs import stream_impossible_velocity

    return stream_impossible_velocity(spark, sf_dir)


REGISTRY["streaming_impossible_velocity"] = REGISTRY[
    "streaming_impossible_velocity"
].__class__(
    builder=REGISTRY["streaming_impossible_velocity"].builder,
    oracle=REGISTRY["impossible_velocity_events"].oracle,
    bench=False,
)


@query("streaming_cross_entity_duplicates_offset", oracle=None)
def streaming_cross_entity_duplicates_offset(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The two-grid cross-entity screen as a live stream
    (streaming/jobs.py::stream_cross_entity_duplicates_offset): the
    single-grid fold with the grid id joined into the state key —
    each event expands into its two grid cells map-side, state folds
    at (grid, cents, window, entity) grain, finish on drained state.
    Drained availableNow ≡ the batch
    ``cross_entity_duplicates_offset_events`` bit-for-bit (SHARED
    oracle, r18)."""
    from ..streaming.jobs import stream_cross_entity_duplicates_offset

    return stream_cross_entity_duplicates_offset(spark, sf_dir)


REGISTRY["streaming_cross_entity_duplicates_offset"] = REGISTRY[
    "streaming_cross_entity_duplicates_offset"
].__class__(
    builder=REGISTRY["streaming_cross_entity_duplicates_offset"].builder,
    oracle=REGISTRY["cross_entity_duplicates_offset_events"].oracle,
    bench=False,
)


@query("streaming_spending_mix_drift", oracle=None)
def streaming_spending_mix_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The spending-mix drift screen as a live stream
    (streaming/jobs.py::stream_spending_mix_drift): exact (entity,
    week, category) cents/count cells fold additively — the week stays
    in the state key because 'current week' is only knowable at drain —
    and the drained state runs the SHARED batch finish
    (mix_drift_from_cells). Drained availableNow ≡ the batch
    ``spending_mix_drift_events`` bit-for-bit (SHARED oracle, r18)."""
    from ..streaming.jobs import stream_spending_mix_drift

    return stream_spending_mix_drift(spark, sf_dir)


REGISTRY["streaming_spending_mix_drift"] = REGISTRY[
    "streaming_spending_mix_drift"
].__class__(
    builder=REGISTRY["streaming_spending_mix_drift"].builder,
    oracle=REGISTRY["spending_mix_drift_events"].oracle,
    bench=False,
)
