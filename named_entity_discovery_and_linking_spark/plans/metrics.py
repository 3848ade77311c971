"""Pipeline metrics (north_rule: "per-partition lineage + metrics").

Two complementary surfaces, both Spark-idiomatic and object-store-safe:

1. ``observe``: zero-cost declarative metrics on any DataFrame via Spark's
   ``Observation`` API — the aggregates piggyback on whatever action the
   caller already runs (no extra job, unlike a ``.count()`` probe), and in
   Structured Streaming the same observed metrics surface per-batch in
   ``QueryProgress``.  Use for row counts / null rates / value bounds at
   stage boundaries.

2. ``write_stage_metrics`` / ``read_metrics``: durable per-(run, stage)
   records written next to the lineage table through the same scheme-
   dispatched filesystem as the claims (sources/fs.py) — one uniquely-named
   JSON file per record (never append-in-place, which object stores cannot
   do atomically), so concurrent drivers cannot clobber each other.
   ``run_stage`` records stage wall time, bucket counts, and row totals
   here automatically; ``read_metrics`` returns the whole history as a
   DataFrame for dashboards / regression checks.
"""

from __future__ import annotations

import json
import math
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.fs import get_filesystem

METRICS_SUBDIR = "_metrics"

METRICS_SCHEMA = (
    "run_id string, stage string, ts double, wall_s double, "
    "n_buckets long, n_rows long, extra string"
)


def observe(df: DataFrame, name: str, *exprs) -> tuple[DataFrame, Observation]:
    """Attach observed aggregates to ``df``; returns (df, observation).

    ``observation.get`` blocks until the FIRST action on the returned frame
    completes, then yields {alias: value}.  Example::

        df, obs = observe(mentions, "mentions",
                          F.count(F.lit(1)).alias("rows"),
                          F.approx_count_distinct("doc_id").alias("docs"))
        df.write.parquet(out)
        log(obs.get)   # no extra job ran

    Spark constraint: observed aggregates must be deterministic and may not
    use DISTINCT (use approx_count_distinct) or reference non-grouping
    subqueries — violations raise AnalysisException at plan time.
    """
    obs = Observation(name)
    return df.observe(obs, *exprs), obs


def skew_report(
    df: DataFrame, key_cols: list[str] | str,
    target_rows_per_task: int = 1_000_000, top_k: int = 10,
) -> dict:
    """Diagnose key skew before a shuffle on ``key_cols`` and recommend a
    salt factor (the north_rule handles hot-domain skew with salted url-hash
    repartitioning — sources/io.py:bucketize; this is the instrument that
    says WHEN and HOW WIDE to salt).

    Returns a bounded driver-side dict::

        {n_rows, n_keys, max_key_rows, p50_key_rows, p99_key_rows,
         skew_ratio,            # max key count / mean key count
         recommended_salt,      # ceil(max_key_rows / target_rows_per_task)
         hot_keys: [{key, rows, share}, ...]}   # top_k, deterministic order

    Plan shape: one map-side-combinable groupBy produces the per-key counts;
    the summary aggregate and the top-k each run one action over that frame
    (two scans of the input — this is an on-demand diagnostic, not a hot
    path; point it at an already-materialized table, or sample first, when
    the scan itself is expensive).  Everything collected is O(top_k) or a
    single row, so the driver footprint is bounded at any corpus size.
    Deterministic: ties in the top-k break on the key value, no rand().
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    srow = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.expr("percentile_approx(n, 0.5)").alias("p50"),
        F.expr("percentile_approx(n, 0.99)").alias("p99"),
    ).collect()[0]
    n_keys = int(srow["n_keys"] or 0)
    n_rows = int(srow["n_rows"] or 0)
    max_rows = int(srow["max_key_rows"] or 0)
    hot = (
        counts.orderBy(F.desc("n"), *keys).limit(top_k).collect()
        if n_keys else []
    )
    mean = (n_rows / n_keys) if n_keys else 0.0
    return {
        "n_rows": n_rows,
        "n_keys": n_keys,
        "max_key_rows": max_rows,
        "p50_key_rows": int(srow["p50"] or 0),
        "p99_key_rows": int(srow["p99"] or 0),
        "skew_ratio": round(max_rows / mean, 2) if mean else 0.0,
        "recommended_salt": max(1, math.ceil(max_rows / target_rows_per_task)),
        "hot_keys": [
            {
                "key": {k: r[k] for k in keys},
                "rows": int(r["n"]),
                "share": round(int(r["n"]) / n_rows, 4) if n_rows else 0.0,
            }
            for r in hot
        ],
    }


def write_stage_metrics(
    lineage_dir: str, run_id: str, stage: str, wall_s: float,
    n_buckets: int, n_rows: int, extra: dict | None = None,
    key: str | None = None,
) -> None:
    """Durably record one stage execution.  One new file per record under
    ``<lineage_dir>/_metrics/`` — atomic on POSIX (write+rename via
    write_atomic) and safe on object stores (whole-object put, no append).

    ``key=None`` (default) names the file uniquely per CALL — right for
    ad-hoc runs where every invocation is a distinct event.  Pass a
    deterministic ``key`` for work that may be REPLAYED under the same
    identity (a checkpoint-recovered micro-batch, a re-run reconcile
    version): the replay overwrites its own record instead of appending a
    duplicate, keeping one record per logical execution."""
    fs = get_filesystem(lineage_dir)
    mdir = fs.join(lineage_dir, METRICS_SUBDIR)
    fs.makedirs(mdir)
    rec = {
        "run_id": run_id, "stage": stage, "ts": time.time(),
        "wall_s": round(wall_s, 3), "n_buckets": int(n_buckets),
        "n_rows": int(n_rows), "extra": json.dumps(extra or {}, sort_keys=True),
    }
    fname = f"m_{stage}_{key if key is not None else uuid.uuid4().hex[:12]}.json"
    fs.write_atomic(fs.join(mdir, fname), json.dumps(rec, sort_keys=True))


def read_metrics(spark: SparkSession, lineage_dir: str) -> DataFrame:
    """All stage-metrics records under ``lineage_dir`` as a DataFrame."""
    fs = get_filesystem(lineage_dir)
    mdir = fs.join(lineage_dir, METRICS_SUBDIR)
    if not fs.exists(mdir):
        return local_frame(spark, [], METRICS_SCHEMA)
    rows = []
    for fn in sorted(fs.listdir(mdir)):
        if not fn.endswith(".json"):
            continue
        content = fs.read_text(fs.join(mdir, fn))
        if not content:
            continue
        try:
            r = json.loads(content)
            rows.append((
                r.get("run_id"), r.get("stage"), float(r.get("ts", 0.0)),
                float(r.get("wall_s", 0.0)), int(r.get("n_buckets", 0)),
                int(r.get("n_rows", 0)), r.get("extra", "{}"),
            ))
        except (ValueError, TypeError, AttributeError):
            continue  # torn/foreign/ill-typed file: skip, never fail the reader
    return local_frame(spark, rows, METRICS_SCHEMA)
