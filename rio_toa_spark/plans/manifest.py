"""Snapshot/manifest checkpointing — the resumability layer required
by the north rule ("resumable from checkpoint with per-partition
lineage + metrics").

The model is Iceberg-flavored but self-contained (no Iceberg jar in
this environment): output lives in a partitioned parquet table; a
manifest directory records, per completed *chunk* of partitions, which
partition values finished plus their row counts, wall time, and the
lineage fingerprint of the inputs/parameters that produced them.

Guarantees:
* Idempotence: partitions are written with dynamic partition
  overwrite, so re-processing a partition replaces it byte-for-byte
  rather than duplicating rows. A chunk whose manifest record was
  never committed is simply redone on resume.
* Atomic commit: each chunk's manifest record is written to a temp
  file then os.rename()'d into place (atomic on POSIX).
* Resume = anti-join: on restart, the to-do set is the input's
  partition values minus the manifest's completed values.
* Lineage check: resuming with different inputs/params than the
  manifest records is an error (prevents silently mixing snapshots).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ResumableJob:
    def __init__(self, output_path: str, partition_col: str, lineage: dict | None = None):
        self.output_path = output_path
        self.partition_col = partition_col
        self.manifest_dir = os.path.join(output_path, "_manifest")
        self.lineage = dict(lineage or {})

    # ----------------------------------------------------------- state

    def _manifest_records(self) -> list[dict]:
        if not os.path.isdir(self.manifest_dir):
            return []
        records = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.startswith("chunk-") and name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as fh:
                    records.append(json.load(fh))
        return records

    def completed_partitions(self) -> set:
        done = set()
        for rec in self._manifest_records():
            done.update(rec["partitions"])
        return done

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-partition metrics as a DataFrame (rows, seconds, chunk,
        committed_at) — the queryable lineage/metrics table."""
        rows = []
        for rec in self._manifest_records():
            for part, n in rec["partition_rows"].items():
                rows.append(
                    (
                        rec["chunk_id"],
                        part,
                        int(n),
                        float(rec["wall_sec"]),
                        rec["committed_at"],
                        json.dumps(rec["lineage"], sort_keys=True),
                    )
                )
        return spark.createDataFrame(
            rows, "chunk_id string, partition string, rows long, chunk_wall_sec double, committed_at string, lineage string"
        )

    def _check_lineage(self) -> None:
        for rec in self._manifest_records():
            if rec["lineage"] != self.lineage:
                raise ValueError(
                    "manifest lineage %r does not match job lineage %r — "
                    "refusing to mix snapshots" % (rec["lineage"], self.lineage)
                )

    def _commit_chunk(self, partitions: list, partition_rows: dict, wall: float) -> None:
        os.makedirs(self.manifest_dir, exist_ok=True)
        chunk_id = uuid.uuid4().hex[:12]
        record = {
            # monotonic commit sequence: committed_at has second
            # resolution, so same-second commits would otherwise order
            # randomly by uuid in snapshots()
            "seq": len(self._manifest_records()),
            "chunk_id": chunk_id,
            "partitions": sorted(str(p) for p in partitions),
            "partition_rows": {str(k): v for k, v in partition_rows.items()},
            "wall_sec": round(wall, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "lineage": self.lineage,
        }
        tmp = os.path.join(self.manifest_dir, ".tmp-%s" % chunk_id)
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.rename(tmp, os.path.join(self.manifest_dir, "chunk-%s.json" % chunk_id))

    # ------------------------------------------------------------- run

    def run(self, df: DataFrame, chunk_partitions: int = 0) -> dict:
        """Execute (or resume) the job.

        ``chunk_partitions`` > 0 processes the to-do set in chunks of
        that many partition values, committing a manifest record after
        each — the granularity of resume. 0 means one chunk.
        """
        from pyspark.sql import Observation

        spark = df.sparkSession
        self._check_lineage()
        # dynamic partition overwrite only for the duration of this job —
        # restore the session's prior overwrite semantics afterwards
        prior_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        pcol = self.partition_col
        all_parts = [r[0] for r in df.select(pcol).distinct().orderBy(pcol).collect()]
        done = self.completed_partitions()
        todo = [p for p in all_parts if str(p) not in done]

        if chunk_partitions <= 0:
            chunk_partitions = max(len(todo), 1)
        chunks = [
            todo[i : i + chunk_partitions] for i in range(0, len(todo), chunk_partitions)
        ]
        try:
            for chunk in chunks:
                t0 = time.perf_counter()
                # per-partition row counts ride along on the write via
                # observe() — ONE pass over the data, not a count() pass
                # plus a write pass (chunk values are known and bounded,
                # so one conditional-count column per value is cheap)
                obs = Observation()
                metric_cols = [
                    F.count(F.when(F.col(pcol) == v, F.lit(1))).alias("n_%d" % i)
                    for i, v in enumerate(chunk)
                ]
                part_df = df.where(F.col(pcol).isin(chunk)).observe(obs, *metric_cols)
                (
                    part_df.write.mode("overwrite")
                    .partitionBy(pcol)
                    .parquet(self.output_path)
                )
                got = obs.get
                counts = {str(v): int(got["n_%d" % i]) for i, v in enumerate(chunk)}
                self._commit_chunk(chunk, counts, time.perf_counter() - t0)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior_mode)
        return {
            "total_partitions": len(all_parts),
            "previously_done": len(done),
            "chunks_run": len(chunks),
        }

    # ------------------------------------------------------- snapshots

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first: one record per committed chunk
        (chunk_id, committed_at, partitions) — the Iceberg-snapshot
        analogue over the manifest log."""
        recs = sorted(
            self._manifest_records(),
            key=lambda r: (r.get("seq", 0), r["committed_at"], r["chunk_id"]),
        )
        return [
            {
                "chunk_id": r["chunk_id"],
                "committed_at": r["committed_at"],
                "partitions": r["partitions"],
            }
            for r in recs
        ]
