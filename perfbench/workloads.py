"""The benchmark's workloads: which registered ops each runs, and how each
op's output is checked.

Every op is a callable ``(spark, sf_dir) -> DataFrame``. Most are
registered queries; ``ivf_pq_build`` composes the two index builders the
way a first-time corpus pays for them, and ``mlp_sum_fit`` runs
``ml_distributed_mlp_sum`` with fewer epochs. An op's check is either the
registered DuckDB oracle or a gate taken from the repository's tests.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from distributed_deep_learning_with_apache_spark_spark.ml import distributed as ml_distributed
from distributed_deep_learning_with_apache_spark_spark.operators import similarity
from distributed_deep_learning_with_apache_spark_spark.registry import load_all

from . import checks

READ, WRITE, FIT, STREAM = "read", "write", "fit", "stream"

# Gate thresholds, as asserted by the repository's tests.
ANN_RECALL_FLOOR = 0.5 * similarity.IVF_NPROBE / similarity.IVF_K  # tests/test_ann_recall.py
MLP_MAE_CEILING = 0.25  # tests/test_distributed_training.py


@dataclass(frozen=True)
class Op:
    name: str
    kind: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None -> ``gate`` decides
    gate: Callable[[list[str], list[tuple], "GateContext"], tuple[bool, str]] | None = None


@dataclass
class GateContext:
    """What checks may consult besides the op's own rows."""

    con: object  # DuckDB connection over the run's tables
    exact_topk_sql: str
    oracles: dict  # op name -> recorded DuckDB oracle result (record_oracles.py)


def corpus_slug(sf_dir: str) -> str:
    return sf_dir.strip("/").replace("/", "_")


def clear_index_caches(sf_dir: str, roots: tuple[str, ...]) -> None:
    """Drop this corpus's persisted index trees under each cache root."""
    slug = corpus_slug(sf_dir)
    for root in roots:
        for d in glob.glob(os.path.join(root, f"{slug}_*")):
            shutil.rmtree(d, ignore_errors=True)


def ivf_pq_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold IVF + PQ build: clear this corpus's caches, then train and
    persist the coarse quantizer and the PQ codes. Returns the codes."""
    clear_index_caches(sf_dir, (similarity.IVF_INDEX_ROOT, similarity.PQ_CODES_ROOT))
    similarity.build_ivf_index(spark, sf_dir)
    codes, _books = similarity.pq_encode_df(spark, sf_dir)
    return codes


MLP_FIT_EPOCHS = 5


class _ShortFitMLPRegressor(ml_distributed.DistributedMLPRegressor):
    """The package's trainer with its epoch count capped at MLP_FIT_EPOCHS."""

    def __init__(self, *args, **kwargs):
        kwargs["epochs"] = MLP_FIT_EPOCHS
        super().__init__(*args, **kwargs)


def mlp_sum_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered ``ml_distributed_mlp_sum``, run as it is except that
    its trainer stops after 5 epochs instead of 20: the same data, model,
    seed and one-Spark-job-per-epoch loop at a quarter of the cost (20
    epochs take 5-12 s per fit on a 4-CPU host, more than the whole rest of
    the workload's pass). The op looks the trainer class up in its module
    at call time, so the capped class stands in for it during the call."""
    fn = load_all()["ml_distributed_mlp_sum"].fn
    trainer = ml_distributed.DistributedMLPRegressor
    ml_distributed.DistributedMLPRegressor = _ShortFitMLPRegressor
    try:
        return fn(spark, sf_dir)
    finally:
        ml_distributed.DistributedMLPRegressor = trainer


def _gate_rows_equal_embeddings(cols, rows, ctx: GateContext) -> tuple[bool, str]:
    n = ctx.con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    return len(rows) == n, f"{len(rows)} codes for {n} embeddings"


def _gate_ann_recall(cols, rows, ctx: GateContext) -> tuple[bool, str]:
    qi, ni, ri = cols.index("query_id"), cols.index("neighbor_id"), cols.index("rnk")
    exact = {(q, n) for q, n, *_ in ctx.con.execute(
        f"SELECT query_id, neighbor_id FROM ({ctx.exact_topk_sql})"
    ).fetchall()}
    queries = {r[qi] for r in rows}
    if len(queries) != similarity.N_QUERIES or any(r[ri] > similarity.TOP_K for r in rows):
        return False, f"contract broken: {len(queries)} queries, ranks up to {max(r[ri] for r in rows)}"
    recall = len({(r[qi], r[ni]) for r in rows} & exact) / len(exact)
    return recall >= ANN_RECALL_FLOOR, f"recall {recall:.3f} (floor {ANN_RECALL_FLOOR:.3f})"


def _gate_mlp_mae(cols, rows, ctx: GateContext) -> tuple[bool, str]:
    err = checks.mae(rows, cols, "label", "prediction")
    return len(rows) == 20 and err < MLP_MAE_CEILING, f"{len(rows)} rows, MAE {err:.4f}"


SQL_ANALYTICS = (
    "revenue_per_region",
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "large_volume_customers",
    "asof_join_latest_order",
    "quantile_two_pass_exact",
    "recursive_calendar_daily",
    "events_tumbling_hourly",
    "events_sessionized",
)

# Ops composed here from the package's public functions, not registered.
COMPOSED = {"ivf_pq_build": ivf_pq_build, "mlp_sum_fit": mlp_sum_fit}

# (name, kind, gate for rows-only ops); a None gate means the registered
# query's DuckDB oracle checks it.
CORPUS_PIPELINE = (
    ("ivf_pq_build", WRITE, _gate_rows_equal_embeddings),
    ("ann_ivf_persisted", READ, _gate_ann_recall),
    ("ann_ivf_kmeans", READ, _gate_ann_recall),
    ("dedup_clusters_logstar", READ, None),
    ("mlp_sum_fit", FIT, _gate_mlp_mae),
    ("stream_kmv_distinct_running", STREAM, None),
)

# Tables each workload's set-up lists before the first op.
TABLES = {
    "sql_analytics": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
    "corpus_pipeline": ("documents", "embeddings", "events"),
}

WORKLOADS = ("sql_analytics", "corpus_pipeline")


def build(workload: str) -> list[Op]:
    """The op list of ``workload``, each op bound to its check."""
    reg = load_all()
    if workload == "sql_analytics":
        return [Op(n, READ, reg[n].fn, oracle=reg[n].oracle) for n in SQL_ANALYTICS]
    if workload == "corpus_pipeline":
        ops = []
        for name, kind, gate in CORPUS_PIPELINE:
            fn = COMPOSED[name] if name in COMPOSED else reg[name].fn
            oracle = None if gate else reg[name].oracle
            if gate is None and oracle is None:
                raise ValueError(f"{name} has neither an oracle nor a gate")
            ops.append(Op(name, kind, fn, oracle=oracle, gate=gate))
        return ops
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")


def exact_topk_sql() -> str:
    return load_all()["cosine_topk_exact"].oracle

