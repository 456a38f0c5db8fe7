"""Autoencoder anomaly scorer (SURVEY.md §2.10 M4–M5, §2.8 U2/U3).

Reference parity: 2-layer encoder/decoder (in→64→32→64→in, ReLU), Adam
lr=1e-3, MSE, 50 epochs, batch 64, shuffled (``train.py:44-81``), with
two deliberate fixes over the reference:

* **One consistent module.** The reference trains a decoder with no
  output activation but loads the weights into a class that appends
  Sigmoid at inference (``train.py:53-57`` vs ``scripts/model_def.py:27``
  — SURVEY.md M4 architecture mismatch). Here train and inference share
  one forward: linear output, correct for standardized (negative-able)
  features.
* **Seeded end-to-end** (init + minibatch shuffling) so scores are
  reproducible.

Implementation is pure numpy (the module is dependency-free and
deterministic). ``train_autoencoder`` is the reference's minibatch fit
on an in-memory matrix. ``train_autoencoder_distributed`` is full-batch
Adam over a features DataFrame with one size check: a feature matrix
of at most ``_DRIVER_FIT_MAX_BYTES`` is collected once and every epoch
runs on the driver; a larger one never leaves the executors, which
send one gradient vector per partition per epoch.
Both paths form and merge the same per-partition partials. **Scoring
is always distributed**: weights broadcast to executors, forward pass
vectorized per Arrow batch via ``mapInPandas`` (the 10-100× path vs
row-at-a-time UDFs).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class NumpyAutoencoder:
    """in→64→32→64→in MLP autoencoder with ReLU hidden activations and
    a linear output (see module docstring)."""

    def __init__(self, in_dim: int, hidden: int = 64, code: int = 32, seed: int = 42):
        rng = np.random.RandomState(seed)
        sizes = [(in_dim, hidden), (hidden, code), (code, hidden), (hidden, in_dim)]
        self.weights = [
            rng.standard_normal((a, b)).astype(np.float64) * np.sqrt(2.0 / a)
            for a, b in sizes
        ]
        self.biases = [np.zeros(b, dtype=np.float64) for _, b in sizes]

    def forward(self, x: np.ndarray) -> np.ndarray:
        h = x
        acts = []
        for i, (w, b) in enumerate(zip(self.weights, self.biases)):
            z = h @ w + b
            h = np.maximum(z, 0.0) if i < len(self.weights) - 1 else z
            acts.append(h)
        return h

    def forward_with_cache(self, x):
        h = x
        cache = [x]
        for i, (w, b) in enumerate(zip(self.weights, self.biases)):
            z = h @ w + b
            h = np.maximum(z, 0.0) if i < len(self.weights) - 1 else z
            cache.append(h)
        return h, cache

    def params(self) -> list[np.ndarray]:
        return self.weights + self.biases

    def state(self) -> dict:
        return {
            "weights": [w.tolist() for w in self.weights],
            "biases": [b.tolist() for b in self.biases],
        }

    @classmethod
    def from_state(cls, state: dict) -> "NumpyAutoencoder":
        obj = cls.__new__(cls)
        obj.weights = [np.asarray(w, dtype=np.float64) for w in state["weights"]]
        obj.biases = [np.asarray(b, dtype=np.float64) for b in state["biases"]]
        return obj


def train_autoencoder(
    x: np.ndarray,
    hidden: int = 64,
    code: int = 32,
    epochs: int = 50,
    batch_size: int = 64,
    lr: float = 1e-3,
    seed: int = 42,
) -> NumpyAutoencoder:
    """Adam + MSE minibatch training (reference ``train.py:64-81``
    hyperparameters), manual backprop, fully seeded."""
    model = NumpyAutoencoder(x.shape[1], hidden, code, seed)
    rng = np.random.RandomState(seed + 1)
    params = model.params()
    m = [np.zeros_like(p) for p in params]
    v = [np.zeros_like(p) for p in params]
    b1, b2, eps = 0.9, 0.999, 1e-8
    t = 0
    n = x.shape[0]
    for _ in range(epochs):
        order = rng.permutation(n)
        for start in range(0, n, batch_size):
            xb = x[order[start : start + batch_size]]
            out, cache = model.forward_with_cache(xb)
            grad_out = 2.0 * (out - xb) / (xb.shape[0] * xb.shape[1])
            grads_w, grads_b = [], []
            g = grad_out
            for i in range(len(model.weights) - 1, -1, -1):
                a_prev = cache[i]
                if i < len(model.weights) - 1:
                    g = g * (cache[i + 1] > 0)
                grads_w.append(a_prev.T @ g)
                grads_b.append(g.sum(axis=0))
                g = g @ model.weights[i].T
            grads = grads_w[::-1] + grads_b[::-1]
            t += 1
            for p, gp, mi, vi in zip(params, grads, m, v):
                mi *= b1
                mi += (1 - b1) * gp
                vi *= b2
                vi += (1 - b2) * gp * gp
                m_hat = mi / (1 - b1**t)
                v_hat = vi / (1 - b2**t)
                p -= lr * m_hat / (np.sqrt(v_hat) + eps)
    return model


def autoencoder_scores(
    features_df: DataFrame,
    model: NumpyAutoencoder,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed scoring (reference U2): broadcast the weight state,
    run the vectorized forward per Arrow batch, emit per-row MSE
    reconstruction error. Only id + features cross into Python."""
    spark = features_df.sparkSession
    id_cols = id_cols or ["_row_id"]
    if id_cols == ["_row_id"] and "_row_id" not in features_df.columns:
        features_df = features_df.withColumn(
            "_row_id", F.monotonically_increasing_id()
        )
    bc = spark.sparkContext.broadcast(model.state())
    schema = T.StructType(
        [features_df.schema[c] for c in id_cols]
        + [T.StructField("ReconstructionError", T.DoubleType(), False)]
    )
    arr_df = features_df.select(
        *id_cols, vector_to_array(F.col("features")).alias("_farr")
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = NumpyAutoencoder.from_state(bc.value)
        for pdf in batches:
            x = np.stack(pdf["_farr"].to_numpy())
            err = np.mean((x - local.forward(x)) ** 2, axis=1)
            out = pdf[id_cols].copy()
            out["ReconstructionError"] = err
            yield out

    return arr_df.mapInPandas(score, schema=schema)


def _backprop_sum(model: NumpyAutoencoder, xb: np.ndarray) -> tuple[list, float]:
    """Sum-form gradients (not averaged over rows) + summed loss, so
    per-partition partials are mergeable by plain addition."""
    out, cache = model.forward_with_cache(xb)
    diff = out - xb
    loss_sum = float(np.sum(diff * diff) / xb.shape[1])
    g = 2.0 * diff / xb.shape[1]
    grads_w, grads_b = [], []
    for i in range(len(model.weights) - 1, -1, -1):
        a_prev = cache[i]
        if i < len(model.weights) - 1:
            g = g * (cache[i + 1] > 0)
        grads_w.append(a_prev.T @ g)
        grads_b.append(g.sum(axis=0))
        g = g @ model.weights[i].T
    return grads_w[::-1] + grads_b[::-1], loss_sum


def _partition_sum(
    model: NumpyAutoencoder, chunks: Iterable[np.ndarray]
) -> tuple[np.ndarray | None, float, int]:
    """One partition's flattened sum-gradient, summed loss and row
    count, accumulated chunk by chunk in arrival order. Both fit paths
    call this, so they add the same floats in the same order."""
    acc = None
    loss = 0.0
    cnt = 0
    for x in chunks:
        grads, ls = _backprop_sum(model, x)
        flat = np.concatenate([g.ravel() for g in grads])
        acc = flat if acc is None else acc + flat
        loss += ls
        cnt += len(x)
    return acc, loss, cnt


#: One epoch's gradient partials for the current weights:
#: ``[(pid, flat sum-gradient, loss sum), ...]`` in any order.
EpochPartials = Callable[[NumpyAutoencoder], list[tuple[int, np.ndarray, float]]]


def _adam_fit(
    model: NumpyAutoencoder,
    epochs: int,
    lr: float,
    n_total: int,
    epoch_partials: EpochPartials,
) -> list[float]:
    """Full-batch Adam, one step per epoch, updating ``model`` in
    place: merge the epoch's partials by plain addition in pid order
    (float addition is order-sensitive, so the fit is a function of
    the partitioning only), divide by ``n_total``, step. Returns the
    per-epoch mean losses."""
    params = model.params()
    shapes = [p.shape for p in params]
    sizes = [int(np.prod(s)) for s in shapes]
    mom = [np.zeros_like(p) for p in params]
    vel = [np.zeros_like(p) for p in params]
    b1, b2, eps = 0.9, 0.999, 1e-8
    losses: list[float] = []
    for step in range(1, epochs + 1):
        parts = sorted(epoch_partials(model), key=lambda p: p[0])
        total = np.zeros(sum(sizes))
        for _, grads, _ in parts:
            total += grads
        losses.append(sum(ls for _, _, ls in parts) / n_total)
        mean_grads = total / n_total
        offset = 0
        for p, mi, vi, sz, shp in zip(params, mom, vel, sizes, shapes):
            gp = mean_grads[offset : offset + sz].reshape(shp)
            offset += sz
            mi *= b1
            mi += (1 - b1) * gp
            vi *= b2
            vi += (1 - b2) * gp * gp
            p -= lr * (mi / (1 - b1**step)) / (np.sqrt(vi / (1 - b2**step)) + eps)
    return losses


#: Largest feature matrix (rows × width × 8 bytes) that
#: ``train_autoencoder_distributed`` fits on the driver. Measured on a
#: 4-core local[4] session, 15 epochs, synthetic 7-wide features in 4
#: partitions, driver fit vs per-epoch executor fit, end to end:
#: 0.8 MB 1.2 s vs 7.9 s, 8 MB 8.6 s vs 12.2 s, 20 MB 18.1 s vs 19.0 s,
#: 40 MB 37.2 s vs 34.4 s, 80 MB 71.8 s vs 60.3 s. The driver path
#: saves the ~0.5 s fixed cost of one Python job per epoch but computes
#: in one process, so the paths cross near 30 MB. The gate sits below
#: that, and more cores only move the crossover down. At 20 MB the
#: driver's Python process grew by ~5× the matrix (collect + stack).
_DRIVER_FIT_MAX_BYTES = 16 << 20


def _driver_partials(arr_df: DataFrame) -> EpochPartials:
    """Collect the feature matrix once, tagged with its partition id,
    and cut each partition into the ``arrow.maxRecordsPerBatch`` chunks
    ``mapInPandas`` would hand the executor path; every epoch then runs
    on the driver with no Spark job."""
    spark = arr_df.sparkSession
    batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    pdf = arr_df.select(
        F.spark_partition_id().alias("pid"), "_farr"
    ).toPandas()
    pid = pdf["pid"].to_numpy()
    x = np.stack(pdf["_farr"].to_numpy())
    blocks = []
    for p in np.unique(pid):  # ascending; a boolean mask keeps row order
        rows = x[pid == p]
        step = batch if batch > 0 else len(rows)
        blocks.append(
            (int(p), [rows[s : s + step] for s in range(0, len(rows), step)])
        )

    def epoch(model: NumpyAutoencoder) -> list[tuple[int, np.ndarray, float]]:
        out = []
        for p, chunks in blocks:
            acc, loss, _ = _partition_sum(model, chunks)
            out.append((p, acc, loss))
        return out

    return epoch


def _executor_partials(arr_df: DataFrame, driver_fan_in: int) -> EpochPartials:
    """One ``mapInPandas`` job per epoch: broadcast the weights, sum
    gradients per partition, collect one vector per partition (or per
    ``driver_fan_in`` group, see ``train_autoencoder_distributed``)."""
    spark = arr_df.sparkSession
    schema = T.StructType(
        [
            T.StructField("pid", T.IntegerType(), False),
            T.StructField("grads", T.ArrayType(T.DoubleType()), False),
            T.StructField("loss_sum", T.DoubleType(), False),
            T.StructField("cnt", T.LongType(), False),
        ]
    )
    n_parts = arr_df.rdd.getNumPartitions()
    group = -(-n_parts // driver_fan_in)  # ceil: ≤ fan_in groups

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid")  # pid-order sum within group
        acc = None
        for g_arr in pdf["grads"]:
            a = np.asarray(g_arr)
            acc = a if acc is None else acc + a
        return pd.DataFrame(
            {
                "pid": [int(pdf["pid"].iloc[0])],  # min pid = group order
                "grads": [acc.tolist()],
                "loss_sum": [float(pdf["loss_sum"].sum())],
                "cnt": [int(pdf["cnt"].sum())],
            }
        )

    def epoch(model: NumpyAutoencoder) -> list[tuple[int, np.ndarray, float]]:
        bc = spark.sparkContext.broadcast(model.state())

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            local = NumpyAutoencoder.from_state(bc.value)
            acc, loss, cnt = _partition_sum(
                local,
                (np.stack(pdf["_farr"].to_numpy()) for pdf in batches if len(pdf)),
            )
            if cnt:
                yield pd.DataFrame(
                    {
                        "pid": [TaskContext.get().partitionId()],
                        "grads": [acc.tolist()],
                        "loss_sum": [loss],
                        "cnt": [cnt],
                    }
                )

        partial_df = arr_df.mapInPandas(partials, schema=schema)
        if n_parts > driver_fan_in:
            partial_df = (
                partial_df.groupBy((F.col("pid") / group).cast("int").alias("_g"))
                .applyInPandas(
                    lambda pdf: merge_group(pdf.drop(columns="_g", errors="ignore")),
                    schema=schema,
                )
            )
        try:
            rows = partial_df.collect()
        finally:
            bc.destroy()
        return [(r["pid"], np.asarray(r["grads"]), r["loss_sum"]) for r in rows]

    return epoch


def train_autoencoder_distributed(
    features_df: DataFrame,
    hidden: int = 64,
    code: int = 32,
    epochs: int = 20,
    lr: float = 1e-3,
    seed: int = 42,
    driver_fan_in: int = 64,
) -> tuple[NumpyAutoencoder, list[float]]:
    """Full-batch Adam (SURVEY.md §7 step 6's cluster-scale path): each
    epoch every partition computes SUM gradients over its rows, the
    partials merge by addition in pid order, and one Adam step follows.
    Returns (model, per-epoch mean losses).

    Size check (one setup job counts rows and feature width): when the
    feature matrix (rows × width × 8 bytes) is at most
    ``_DRIVER_FIT_MAX_BYTES``, it is collected to the driver ONCE and
    every epoch runs there with no Spark job, partials formed per
    (partition, Arrow batch) exactly as below; above it features never
    leave the executors. Either
    way the fit is a function of the input partitioning only; the two
    paths agree bit for bit when the driver's BLAS is single-threaded
    (as Spark's Python workers are), and to the last ulp otherwise.

    Executor path: per epoch, the weights broadcast and an
    Arrow-batched ``mapInPandas`` emits one flattened gradient vector
    per partition — synchronous data-parallel SGD with the merge
    structure TorchDistributor/allreduce uses, where only
    (n_params)-sized vectors travel. A single ``barrier`` job with an
    ``allGather`` per epoch gives identical weights but measured slower
    (each barrier round costs more than a whole epoch job here). When
    the scan has more than ``driver_fan_in`` partitions, an
    intermediate executor-side merge stage (treeAggregate's shape,
    written as a ``groupBy(pid // g).applyInPandas``) combines partials
    in pid order within contiguous pid ranges before collect, so the
    driver receives at most ``driver_fan_in`` vectors per epoch; the
    result then also depends on ``driver_fan_in``.
    """
    arr_df = features_df.select(
        vector_to_array(F.col("features")).alias("_farr")
    ).persist()
    try:
        # one combined setup job: row count + feature width (a separate
        # .head() probe would be a second full-stage job per fit)
        setup = arr_df.agg(
            F.count(F.lit(1)).alias("__n"), F.max(F.size("_farr")).alias("__d")
        ).first()
        n_total, in_dim = setup["__n"], setup["__d"]
        if not n_total:
            raise ValueError("train_autoencoder_distributed needs at least 1 row")
        if n_total * in_dim * 8 <= _DRIVER_FIT_MAX_BYTES:
            epoch_partials = _driver_partials(arr_df)
        else:
            epoch_partials = _executor_partials(arr_df, driver_fan_in)
        model = NumpyAutoencoder(in_dim, hidden, code, seed)
        losses = _adam_fit(model, epochs, lr, n_total, epoch_partials)
    finally:
        arr_df.unpersist()
    return model, losses
