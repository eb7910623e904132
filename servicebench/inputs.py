"""Generated inputs and their independently computed expected values.

The benchmark never reads data from outside its checkout. It synthesises an
``events`` table with the shape of the project's test fixtures (five event
types in equal shares, 1,500 users, exponential values, ``{"k": N}`` props,
timestamps rising in arrival order), always from the same base generator.
The workload seed then draws a permutation of ``event_id`` over those rows,
so each seed decides which rows land in which id slice and volume batch
while the size and mix of the input stay the same.

Expected values come from DuckDB or numpy over the same generated file,
never from the package under test.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit of scale factor: sf0.1 is the 100k-row arrival file.
ROWS_PER_SF = 1_000_000
BASE_SEED = 42
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
INTERESTING = ("error", "signup")
N_USERS = 1500


def generate_events(sf: float, seed: int, sf_dir: str) -> str:
    """Write ``<sf_dir>/events.parquet`` and return its path."""
    n = int(round(ROWS_PER_SF * sf))
    rng = np.random.default_rng(BASE_SEED)
    event_type = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    user_id = rng.integers(0, N_USERS, n, dtype=np.int64)
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    gaps_us = rng.exponential(30e6, n).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    event_id = np.random.default_rng(seed).permutation(n).astype(np.int64)
    table = pa.table(
        {
            "event_id": event_id,
            "ts": ts,
            "user_id": user_id,
            "event_type": event_type,
            "value": value,
            "props": [f'{{"k": {int(x)}}}' for x in k],
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path


def _interesting_sql() -> str:
    return "event_type IN (" + ", ".join(f"'{t}'" for t in INTERESTING) + ")"


class Expected:
    """DuckDB answers over one generated events file."""

    def __init__(self, events_path: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE events AS SELECT * FROM read_parquet('{events_path}')"
        )

    def close(self) -> None:
        self.con.close()

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def n_rows(self) -> int:
        return self._one("SELECT count(*) FROM events")

    def interesting_rows(self) -> int:
        return self._one(f"SELECT count(*) FROM events WHERE {_interesting_sql()}")

    def training_range_end(self, limit: int) -> int:
        """Largest event_id among the first ``limit`` interesting rows."""
        return self._one(
            f"SELECT max(event_id) FROM (SELECT event_id FROM events "
            f"WHERE {_interesting_sql()} ORDER BY event_id LIMIT {limit})"
        )

    def slice_rows(self, lo: int, hi: int) -> int:
        """Rows ``run_incremental_batch`` must score for ids ``[lo, hi]``."""
        return self._one(
            f"SELECT count(*) FROM events WHERE {_interesting_sql()} "
            f"AND event_id BETWEEN {lo} AND {hi} AND props IS NOT NULL"
        )

    def batch_volume_rows(self, batch_size: int = 100) -> int:
        """Distinct (user, id batch) groups over the interesting rows."""
        return self._one(
            f"SELECT count(*) FROM (SELECT DISTINCT user_id, "
            f"floor(event_id / {batch_size}) FROM events WHERE {_interesting_sql()})"
        )

    def capped_incidents(
        self,
        batch_size: int = 100,
        window_size: int = 5,
        z_threshold: float = -1.0,
        max_anomalies: int = 3,
        ratio_guard: float = 0.3,
    ) -> set[int]:
        """Clusters one catch-up over the whole file must open incidents for.

        Rolling volume z-score per cluster over the last ``window_size``
        id batches, the newest batch scored by ``-|deviation|``, flagged when
        its z against all clusters is below ``z_threshold``, nothing when
        more than ``ratio_guard`` of clusters flag, else the
        ``max_anomalies`` lowest scores (ties by cluster id).
        """
        rows = self.con.execute(
            f"""
            WITH vol AS (
                SELECT user_id AS cluster_id,
                       floor(event_id / {batch_size}) AS batch_id,
                       count(*) AS log_count
                FROM events WHERE {_interesting_sql()} GROUP BY 1, 2
            ),
            feat AS (
                SELECT cluster_id, batch_id,
                       (log_count - avg(log_count) OVER w)
                         / (stddev_pop(log_count) OVER w + 1e-5) AS deviation,
                       count(*) OVER (PARTITION BY cluster_id) AS n_points,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY batch_id) AS seq
                FROM vol
                WINDOW w AS (PARTITION BY cluster_id ORDER BY batch_id
                             ROWS BETWEEN {window_size - 1} PRECEDING
                             AND CURRENT ROW)
            ),
            latest AS (
                SELECT cluster_id,
                       -abs(round(deviation, 4)) AS score,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY batch_id DESC) AS rn
                FROM feat
                WHERE n_points >= {window_size} AND seq >= {window_size}
            ),
            scored AS (SELECT cluster_id, score FROM latest WHERE rn = 1),
            stats AS (
                SELECT avg(score) AS mu, stddev_pop(score) AS sigma,
                       count(*) AS n FROM scored
            ),
            flagged AS (
                SELECT cluster_id, score FROM scored, stats
                WHERE (score - mu) / (sigma + 1e-9) < {z_threshold}
            )
            SELECT cluster_id FROM flagged
            WHERE (SELECT count(*) FROM flagged) <= {ratio_guard} * (SELECT n FROM stats)
            ORDER BY score, cluster_id
            LIMIT {max_anomalies}
            """
        ).fetchall()
        return {int(r[0]) for r in rows}


def silhouette_sq_euclidean(emb: np.ndarray, labels: np.ndarray) -> float:
    """Mean silhouette under squared Euclidean distance, singletons scoring 0.

    The same definition MLlib's ``ClusteringEvaluator`` uses, computed here
    from the full pairwise distance matrix.
    """
    x = emb.astype(np.float64)
    sq = (x * x).sum(axis=1)
    d = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (x @ x.T), 0.0)
    uniq = np.unique(labels)
    onehot = (labels[:, None] == uniq[None, :]).astype(np.float64)
    sizes = onehot.sum(axis=0)
    sums = d @ onehot  # distance from each point to every cluster, summed
    own = np.searchsorted(uniq, labels)
    own_size = sizes[own]
    a = sums[np.arange(len(x)), own] / np.maximum(own_size - 1.0, 1.0)
    mean_to = sums / sizes[None, :]
    mean_to[np.arange(len(x)), own] = np.inf
    b = mean_to.min(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(a < b, 1.0 - a / b, np.where(a > b, b / a - 1.0, 0.0))
    s = np.where(own_size > 1, s, 0.0)
    return float(s.mean())
