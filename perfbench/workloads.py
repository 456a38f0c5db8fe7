"""Workload definitions: which catalog queries each workload runs, and how
each query's result is checked.

Each workload stresses one layer group of the engine; see README.md for
the rationale and for the queries each workload leaves out to fit the
run budget.
"""

from __future__ import annotations

from dataclasses import dataclass

#: catalog package, imported from the checkout root
PACKAGE = "intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark"

#: input scale and the generator seed for the tables (fixed, so results
#: can be checked against stored oracle fingerprints; ``--seed`` varies
#: the query order instead)
DATA_SF = 0.01
DATA_SEED = 20240101

WORKLOADS: dict[str, tuple[str, ...]] = {
    # the paper's pipeline: rule flags, then the autoencoder verdict
    "fraud_scoring": (
        "rule_flags_orders",
        "anomaly_autoencoder",
    ),
    # a fraud screen as a file-source fold: state and commit log per batch
    "fraud_stream": (
        "streaming_duplicate_charges",
    ),
}


@dataclass(frozen=True)
class RowsOnly:
    """Check for a query without a value oracle (the fitted-model
    queries): row count and key set from ``key_sql`` on the inputs, the
    exact column set, and finite values in ``finite``."""

    key: str
    key_sql: str
    columns: tuple[str, ...]
    finite: tuple[str, ...]


ROWS_ONLY: dict[str, RowsOnly] = {
    "anomaly_autoencoder": RowsOnly(
        key="o_orderkey",
        key_sql="SELECT o_orderkey FROM orders",
        columns=("o_orderkey", "reconstructionerror"),
        finite=("reconstructionerror",),
    ),
}


def all_queries() -> list[str]:
    return sorted({q for qs in WORKLOADS.values() for q in qs})
