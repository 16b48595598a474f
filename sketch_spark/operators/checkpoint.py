"""Checkpoint/resume for sketch jobs (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Unit of resumability: a deterministic *bucket* of the input —
``pmod(xxhash64(key_col), n_buckets)`` — not a Spark partition id
(partition ids change with splits/cluster size; the bucket function is
a pure function of the data, so lineage survives re-planning).  Each
wave of buckets runs as one Spark job whose partials are grouped by
bucket; the merged per-bucket states land in the checkpoint directory
as one parquet file per bucket via an atomic tmp+rename, carrying:

  bucket, spec, state(binary), n_rows, n_values,
  input_fingerprint (order-independent XOR of row key hashes),
  fp_rows, completed_at_epoch

``result`` reads only (spec, state, n_rows, n_values), so bucket files
with extra columns (older files carry a per-row timing column) still
load.

Resume lists completed buckets from the directory and processes only
the remainder; the fingerprint lets a resume detect that a bucket's
input changed since the checkpoint (stale lineage -> error, never a
silent wrong merge).

At 100 TB the same layout works unchanged: buckets become Iceberg
partition predicates (or bucket-transform partitioning), so a resumed
job prunes completed buckets at the *scan* instead of the filter.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, functions as F

from .aggregate import SketchResult, SketchSpec, build_partials, merge_partials

__all__ = ["CheckpointedSketchJob", "SimulatedFailure"]


class SimulatedFailure(RuntimeError):
    """Raised by tests to kill a run between waves."""


class CheckpointedSketchJob:
    def __init__(
        self,
        df: DataFrame,
        specs: list[SketchSpec],
        ckpt_dir: str,
        key_col: str = "url",
        n_buckets: int = 16,
        wave_size: int = 4,
    ):
        self.df = df
        self.specs = specs
        self.ckpt_dir = ckpt_dir
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.wave_size = wave_size
        os.makedirs(ckpt_dir, exist_ok=True)

    # -- lineage ------------------------------------------------------------
    def _bucket_path(self, bucket: int) -> str:
        return os.path.join(self.ckpt_dir, f"bucket_{bucket:05d}.parquet")

    def completed_buckets(self) -> set[int]:
        out = set()
        for fn in os.listdir(self.ckpt_dir):
            if fn.startswith("bucket_") and fn.endswith(".parquet"):
                out.add(int(fn[len("bucket_") : -len(".parquet")]))
        return out

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets))
        )

    # -- execution ----------------------------------------------------------
    def run(self, fail_after_waves: int | None = None) -> None:
        """Process all incomplete buckets, wave by wave; each completed
        wave is durably checkpointed before the next starts."""
        done = self.completed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        waves = [
            todo[i : i + self.wave_size] for i in range(0, len(todo), self.wave_size)
        ]
        for wi, wave in enumerate(waves):
            if fail_after_waves is not None and wi >= fail_after_waves:
                raise SimulatedFailure(f"killed before wave {wi} ({wave})")
            self._run_wave(wave)

    def _run_wave(self, buckets: list[int]) -> None:
        sub = self._with_bucket(self.df).filter(F.col("_bucket").isin(buckets))
        # fingerprint spec rides along as one extra "sketch": an
        # order-independent XOR of key hashes per bucket
        partials = build_partials(sub, self.specs, group_cols=["_bucket"])
        fingerprints = (
            sub.groupBy("_bucket")
            .agg(
                F.bit_xor(F.xxhash64(F.col(self.key_col))).alias("fp"),
                F.count("*").alias("fp_rows"),
            )
        )
        merged = merge_partials(partials, ["_bucket"], two_level=False)
        rows = [r.asDict() for r in merged.join(fingerprints, "_bucket", "left").collect()]
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:
            by_bucket.setdefault(int(r["_bucket"]), []).append(r)
        now = time.time()
        for b in buckets:
            brows = by_bucket.get(b, [])
            if not brows:
                # bucket empty in this input: record zero states so the
                # bucket still counts as completed lineage
                brows = [
                    {
                        "_bucket": b,
                        "spec": s.name,
                        "state": s.make().to_bytes(),
                        "n_rows": 0,
                        "n_values": 0,
                        "fp": 0,
                        "fp_rows": 0,
                    }
                    for s in self.specs
                ]
            tbl = pa.table(
                {
                    "bucket": pa.array([b] * len(brows), pa.int32()),
                    "spec": pa.array([r["spec"] for r in brows], pa.string()),
                    "state": pa.array([r["state"] for r in brows], pa.binary()),
                    "n_rows": pa.array([r["n_rows"] for r in brows], pa.int64()),
                    "n_values": pa.array([r["n_values"] for r in brows], pa.int64()),
                    "input_fingerprint": pa.array(
                        [int(r.get("fp") or 0) for r in brows], pa.int64()
                    ),
                    "fp_rows": pa.array([int(r.get("fp_rows") or 0) for r in brows], pa.int64()),
                    "completed_at_epoch": pa.array([now] * len(brows), pa.float64()),
                }
            )
            tmp = self._bucket_path(b) + ".tmp"
            pq.write_table(tbl, tmp)
            os.replace(tmp, self._bucket_path(b))  # atomic commit

    # -- results ------------------------------------------------------------
    def result(self, validate_lineage: bool = False) -> SketchResult:
        done = self.completed_buckets()
        missing = set(range(self.n_buckets)) - done
        if missing:
            raise RuntimeError(f"job incomplete: buckets {sorted(missing)} missing")
        if validate_lineage:
            self.validate_lineage()
        cols = ["spec", "state", "n_rows", "n_values"]
        return SketchResult(
            (
                r
                for b in sorted(done)
                for r in pq.read_table(self._bucket_path(b), columns=cols).to_pylist()
            ),
            [],
        )

    def validate_lineage(self) -> None:
        """Recompute bucket fingerprints from the current input and
        compare against the checkpoint — detects changed input."""
        current = {
            int(r["_bucket"]): (int(r["fp"]), int(r["n"]))
            for r in self._with_bucket(self.df)
            .groupBy("_bucket")
            .agg(F.bit_xor(F.xxhash64(F.col(self.key_col))).alias("fp"), F.count("*").alias("n"))
            .collect()
        }
        for b in sorted(self.completed_buckets()):
            tbl = pq.read_table(self._bucket_path(b)).to_pylist()
            fp, n = int(tbl[0]["input_fingerprint"]), int(tbl[0]["fp_rows"])
            cfp, cn = current.get(b, (0, 0))
            if (fp, n) != (cfp, cn):
                raise RuntimeError(
                    f"lineage mismatch for bucket {b}: checkpoint fp={fp}/{n} "
                    f"current fp={cfp}/{cn} — input changed since checkpoint"
                )
