"""The three service workloads, each one closed-loop caller of a public entry point.

A workload owns its directories under the run's work dir, performs one op
per call of :meth:`op`, and checks each op's outputs against values from
:mod:`inputs` (DuckDB or numpy over the generated file). A check that fails
returns its reasons; the runner counts that op as failed.

Sizes scale with the input: the figures below are for sf0.1 (100k rows).
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.dataset as ds

from inputs import Expected, silhouette_sq_euclidean

K = 8
QUALITY_SAMPLE = 2000
SF_REF = 0.1


def count_rows(path: str) -> int:
    """Rows of a parquet table directory, 0 when it does not exist yet."""
    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet").count_rows()


def corrupt_table(path: str) -> None:
    """Negative control: drop one data file from a parquet table."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.getsize(f) > 0
    )
    if not files:
        raise RuntimeError(f"nothing to corrupt under {path}")
    os.remove(files[0])


def train_and_audit(spark, sf_dir: str, work_dir: str, limit: int) -> dict:
    """The reference's deployment order: train, then audit the clustering."""
    from logstream_processing_service_spark import pipelines

    res = pipelines.run_training_batch(spark, sf_dir, work_dir, limit=limit, k=K)
    audit = pipelines.run_quality_validation(spark, work_dir, sample=QUALITY_SAMPLE)
    return {"rows": res["trained"], **res, **audit}


def check_trained(work_dir: str, result: dict, want_trained: int, full_size: bool) -> list[str]:
    """Training counts, pattern count and a numpy recomputation of the silhouette."""
    errors = []
    if result["trained"] != want_trained:
        errors.append(f"trained {result['trained']} rows, expected {want_trained}")
    table = ds.dataset(os.path.join(work_dir, "log_embeddings"), format="parquet").to_table(
        columns=["event_id", "embedding", "cluster_id"]
    )
    if table.num_rows != want_trained:
        errors.append(f"log_embeddings holds {table.num_rows} rows, expected {want_trained}")
    n_clusters = len(np.unique(table.column("cluster_id").to_numpy()))
    if result["patterns"] != n_clusters or (full_size and n_clusters != K):
        errors.append(f"{result['patterns']} patterns over {n_clusters} clusters, k={K}")
    sample = table.sort_by("event_id").slice(0, QUALITY_SAMPLE)
    emb = np.array(sample.column("embedding").to_pylist(), dtype=np.float64)
    sil = silhouette_sq_euclidean(emb, sample.column("cluster_id").to_numpy())
    # the package reports the silhouette rounded to 6 places
    if abs(sil - result["silhouette"]) > 2e-6:
        errors.append(f"silhouette {result['silhouette']}, recomputed {sil:.6f}")
    return errors


class Workload:
    name = ""
    warmup_ops = 0
    # streaming queries each op starts (the tracer waits for them to end)
    streams_per_op = 0

    def __init__(self, sf: float, sf_dir: str, work: str, expected: Expected):
        self.spark = None  # set by the runner once the session is up
        self.sf_dir = sf_dir
        self.work = work
        self.expected = expected
        self.scale = sf / SF_REF
        self.train_limit = max(1, round(5000 * self.scale))

    def setup(self) -> list[str]:
        """Build the state the first op needs (inside ``setup_s``); return
        the reasons its outputs are wrong (empty: correct)."""
        return []

    def op(self, i: int) -> dict:
        """Run op ``i``; return at least ``rows`` (rows completed)."""
        raise NotImplementedError

    def check(self, i: int, result: dict) -> list[str]:
        """Return the reasons op ``i``'s outputs are wrong (empty: correct)."""
        raise NotImplementedError

    def corrupt(self, i: int) -> None:
        """Damage op ``i``'s output so that :meth:`check` must fail."""
        raise NotImplementedError

    def cleanup(self, i: int) -> None:
        """Drop op ``i``'s outputs once checked."""

    def has_next(self) -> bool:
        return True

    def state_counts(self, i: int) -> dict:
        """Rows of ``log_embeddings``, of the ``volume_history`` op ``i``
        reads, and of ``incidents``, as they stand now."""
        raise NotImplementedError

    def _expect_trained(self) -> int:
        return min(self.train_limit, self.expected.interesting_rows())


class ScoreSlices(Workload):
    """``run_incremental_batch`` over consecutive id slices after training.

    Set-up trains and audits the model the slices are scored against, so
    the training and audit layers are measured here too, once per run.
    """

    name = "score-slices"
    warmup_ops = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.state = os.path.join(self.work, "state")
        self.slice_ids = max(1, round(5000 * self.scale))
        self.n_ids = self.expected.n_rows()
        self.slices: dict[int, tuple[int, int]] = {}
        self.expected_total = 0

    def setup(self) -> list[str]:
        res = train_and_audit(self.spark, self.sf_dir, self.state, self.train_limit)
        self.expected_total = res["trained"]
        self.next_lo = self.expected.training_range_end(self.train_limit) + 1
        return check_trained(self.state, res, self._expect_trained(), self.scale >= 1)

    def has_next(self) -> bool:
        return self.next_lo < self.n_ids

    def op(self, i: int) -> dict:
        from logstream_processing_service_spark import pipelines

        lo = self.next_lo
        hi = lo + self.slice_ids - 1
        self.next_lo = hi + 1
        self.slices[i] = (lo, hi)
        res = pipelines.run_incremental_batch(self.spark, self.sf_dir, self.state, lo, hi)
        return {"rows": res["scored"], **res}

    def check(self, i: int, result: dict) -> list[str]:
        want = self.expected.slice_rows(*self.slices[i])
        self.expected_total += want
        errors = []
        if result["scored"] != want:
            errors.append(f"scored {result['scored']} rows, expected {want}")
        have = count_rows(os.path.join(self.state, "log_embeddings"))
        if have != self.expected_total:
            errors.append(f"log_embeddings holds {have} rows, expected {self.expected_total}")
        return errors

    def corrupt(self, i: int) -> None:
        corrupt_table(os.path.join(self.state, "log_embeddings"))

    def state_counts(self, i: int) -> dict:
        return {
            "log_embeddings": count_rows(os.path.join(self.state, "log_embeddings")),
            "history_read": count_rows(os.path.join(self.state, "volume_history")),
            "incidents": count_rows(os.path.join(self.state, "incidents")),
        }


class StreamCatchup(Workload):
    """One ``availableNow`` anomaly pipeline run over the arrival file."""

    name = "stream-catchup"
    # each op plans and runs a fresh query, so the JIT keeps compiling new
    # planning code for several ops after the first
    warmup_ops = 5
    streams_per_op = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_rows = self.expected.n_rows()
        self.want_history = self.expected.batch_volume_rows()
        self.want_incidents = self.expected.capped_incidents()

    def _out(self, i: int) -> str:
        return os.path.join(self.work, "stream", f"op{i}")

    def op(self, i: int) -> dict:
        from logstream_processing_service_spark.streaming.pipeline import (
            run_anomaly_pipeline,
        )

        run_anomaly_pipeline(self.spark, self.sf_dir, self._out(i))
        return {"rows": self.n_rows}

    def check(self, i: int, result: dict) -> list[str]:
        errors = []
        hist = count_rows(os.path.join(self._out(i), "volume_history"))
        if hist != self.want_history:
            errors.append(f"volume_history holds {hist} rows, expected {self.want_history}")
        inc_path = os.path.join(self._out(i), "incidents")
        got = (
            set(ds.dataset(inc_path, format="parquet").to_table(columns=["cluster_id"])
                .column("cluster_id").to_pylist())
            if os.path.isdir(inc_path)
            else set()
        )
        if got != self.want_incidents:
            errors.append(f"incidents {sorted(got)}, expected {sorted(self.want_incidents)}")
        return errors

    def corrupt(self, i: int) -> None:
        corrupt_table(os.path.join(self._out(i), "volume_history"))

    def state_counts(self, i: int) -> dict:
        return {
            "log_embeddings": 0,
            "history_read": count_rows(os.path.join(self._out(i), "volume_history")),
            "incidents": count_rows(os.path.join(self._out(i), "incidents")),
        }

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)


class TrainAudit(Workload):
    """``run_training_batch`` into a fresh dir, then ``run_quality_validation``."""

    name = "train-audit"
    warmup_ops = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.silhouette = None  # this seed's value, fixed by the first op

    def _dir(self, i: int) -> str:
        return os.path.join(self.work, "train", f"op{i}")

    def op(self, i: int) -> dict:
        return train_and_audit(self.spark, self.sf_dir, self._dir(i), self.train_limit)

    def check(self, i: int, result: dict) -> list[str]:
        errors = check_trained(
            self._dir(i), result, self._expect_trained(), self.scale >= 1
        )
        if self.silhouette is None:
            self.silhouette = result["silhouette"]
        elif result["silhouette"] != self.silhouette:
            errors.append(f"silhouette {result['silhouette']} differs from {self.silhouette}")
        return errors

    def corrupt(self, i: int) -> None:
        corrupt_table(os.path.join(self._dir(i), "log_embeddings"))

    def state_counts(self, i: int) -> dict:
        # training overwrites volume_history without reading it back
        return {
            "log_embeddings": count_rows(os.path.join(self._dir(i), "log_embeddings")),
            "history_read": 0,
            "incidents": 0,
        }

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._dir(i), ignore_errors=True)


WORKLOADS = {w.name: w for w in (ScoreSlices, StreamCatchup, TrainAudit)}
