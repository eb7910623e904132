"""Service smoke at sf0.001 in the default tier: the reference's three entry
points and the streaming anomaly pass, chained over one work dir, with row
counts checked against DuckDB and slice re-runs checked to add no rows.
The slow-tier suites (test_pipelines.py, test_ml_streaming.py) cover the
same paths in more depth."""

from __future__ import annotations

import os

import duckdb

from logstream_processing_service_spark import pipelines as P
from logstream_processing_service_spark.streaming.pipeline import (
    run_anomaly_pipeline,
)

from .conftest import SF_DIR

LEVELS = "('error', 'signup')"
SLICES = [(0, 499), (500, 999)]


def _duck(sql: str) -> int:
    events = f"'{SF_DIR}/events.parquet'"
    return duckdb.sql(sql.format(events=events)).fetchone()[0]


def _in_slice(lo: int, hi: int) -> int:
    return _duck(
        f"SELECT count(*) FROM {{events}} WHERE event_type IN {LEVELS}"
        f" AND event_id BETWEEN {lo} AND {hi} AND props IS NOT NULL"
    )


def _rows(spark, path: str) -> int:
    return spark.read.parquet(path).count()


def test_service_train_score_audit_stream(spark, tmp_path):
    work = str(tmp_path / "service")
    emb = os.path.join(work, "log_embeddings")
    patterns = os.path.join(work, "log_patterns_incr")
    incidents = os.path.join(work, "incidents")

    trained = P.run_training_batch(spark, SF_DIR, work, limit=200, k=4)
    assert trained["trained"] == 200
    assert _rows(spark, emb) == 200
    last_trained_id = _duck(
        f"SELECT max(event_id) FROM (SELECT event_id FROM {{events}}"
        f" WHERE event_type IN {LEVELS} ORDER BY event_id LIMIT 200)"
    )

    for lo, hi in SLICES:
        out = P.run_incremental_batch(spark, SF_DIR, work, lo, hi)
        assert out["scored"] == _in_slice(lo, hi)
    # every slice row is upserted once; trained rows are not duplicated
    want = _duck(
        f"SELECT count(*) FROM {{events}} WHERE event_type IN {LEVELS}"
        f" AND (event_id <= {last_trained_id} OR props IS NOT NULL)"
    )
    assert _rows(spark, emb) == want

    sizes = {p: _rows(spark, p) for p in (emb, patterns)}
    P.run_incremental_batch(spark, SF_DIR, work, *SLICES[1])
    assert {p: _rows(spark, p) for p in sizes} == sizes
    inc = spark.read.parquet(incidents)
    assert inc.count() == inc.select("cluster_id").distinct().count()

    report = P.run_quality_validation(spark, work, sample=200)
    assert 0.0 <= report["v_measure"] <= 1.0
    assert -1.0 <= report["silhouette"] <= 1.0

    stream = str(tmp_path / "stream")
    run_anomaly_pipeline(spark, SF_DIR, stream)
    assert _rows(spark, os.path.join(stream, "volume_history")) == _duck(
        f"SELECT count(DISTINCT (user_id, event_id // 100)) FROM {{events}}"
        f" WHERE event_type IN {LEVELS}"
    )
    opened = spark.read.parquet(os.path.join(stream, "incidents"))
    assert opened.count() == opened.select("cluster_id").distinct().count() <= 3
