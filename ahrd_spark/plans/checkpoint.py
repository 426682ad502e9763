"""Per-stage checkpointing with lineage + metrics and exact resume.

North-rule requirement: each pipeline stage (mention-detect, link-score,
canonicalize, materialize) checkpoints its output with per-partition lineage
and metrics so a killed run resumes from the last complete stage and
produces byte-identical results.

Design (no Iceberg jars in this sandbox, so the manager writes
parquet + a JSON sidecar with the same information an Iceberg snapshot
carries; the writer is format-pluggable — pass ``table_format='iceberg'``
on a cluster with the Iceberg catalog configured and the same code paths
run through ``DataFrameWriterV2``):

- stage output dir:   <workdir>/<stage>/data   (parquet, partitioned writes)
- lineage sidecar:    <workdir>/<stage>/_lineage.json
    {stage, config_hash, inputs: [upstream stage fingerprints],
     partitions: [{partition_id, file, rows, bytes}], total_rows, checksum,
     fingerprint, schema, written_at_ms}
- completion marker:  parquet _SUCCESS + the sidecar itself

Metrics cost nothing extra: the global xor-fold checksum rides on the write
job via ``Observation`` (no second data pass) and per-partition row counts
come from the parquet file footers (one file per hash partition).

Exact resume: a stage is skipped iff its sidecar exists AND its config_hash
matches AND every upstream fingerprint matches.  Every re-read (right after
the write, or on resume) passes the recorded schema, so reading a
checkpoint starts no schema-inference job.

Determinism: by default outputs are hash-repartitioned by the stage key and
sorted within partitions before the write.  A stage whose plan already
keeps each key group inside one partition, contiguous, writes its natural
layout instead (``preserve_partitioning``): mention_detect (a per-doc
explode), link_score on the pre-grouped path (one winner per protein,
emitted in the task that read the protein's mentions) and materialize
without canonicalize (a projection of the winners).  Either way a resumed
run re-reads exactly what a cold run would produce.
"""

from __future__ import annotations

import json
import posixpath
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


import contextlib


@contextlib.contextmanager
def whole_file_scan(spark: SparkSession, max_file_bytes: int):
    """Plan file scans executed inside this block with one WHOLE part-file
    per task — the read-side contract of a checkpoint's group contiguity.

    A stage checkpoint is hash-repartitioned by its key and written one file
    per partition, so every key group lives wholly inside one file, sorted.
    A downstream per-group operator (the batch scorer) can then skip its own
    repartition+sort — but only if Spark's scan doesn't split a file across
    tasks.  Split size is ``min(maxPartitionBytes, max(openCostInBytes,
    bytesPerCore))``; pinning BOTH maxPartitionBytes and openCostInBytes to
    the largest part-file (+margin) makes the split size >= every file (no
    splits) and makes each file's packing cost >= the split size (no two
    files coalesced into one task) -> exactly one task per part-file.
    """
    pad = max_file_bytes + (16 << 20)
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, str(pad))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _config_hash(obj) -> str:
    import hashlib

    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class CheckpointManager:
    """All sidecar/lineage I/O goes through a ``pyarrow.fs`` filesystem
    resolved from the workdir URI, so ``--workdir s3://bucket/ckpt`` (or
    hdfs://, gcs://) behaves the same as a local path: the partition
    listing, the lineage sidecar, and resume all work on object stores.
    Spark itself reads/writes the stage parquet through its own Hadoop FS
    layer using the original URI string."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        config_obj=None,
        table_format: str = "parquet",
    ):
        self.spark = spark
        self.workdir = workdir  # original URI — handed to Spark read/write
        self.fs, self._root = self._resolve_fs(workdir)
        self.config_hash = _config_hash(config_obj) if config_obj is not None else ""
        self.table_format = table_format
        self.fs.create_dir(self._root, recursive=True)

    @staticmethod
    def _resolve_fs(workdir: str):
        """pyarrow filesystem for the workdir URI, tolerating the paths a
        Spark user actually passes: relative local paths (pyarrow rejects
        scheme-less relative URIs) and ``s3a://`` (the hadoop-aws scheme
        Spark needs, which pyarrow doesn't recognize — same store, so map
        it to pyarrow's ``s3://`` for sidecar I/O while Spark keeps the
        original URI for the parquet data)."""
        import os
        import re

        from pyarrow import fs as pafs

        uri = workdir
        if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", uri):
            uri = os.path.abspath(uri)
        elif uri.startswith("s3a://") or uri.startswith("s3n://"):
            uri = "s3://" + uri.split("://", 1)[1]
        return pafs.FileSystem.from_uri(uri)

    # -- paths ---------------------------------------------------------
    # Spark-facing paths keep the URI scheme; pyarrow-facing paths are the
    # scheme-less form from_uri returned.  Object-store paths are always
    # '/'-joined.
    def _stage_dir(self, stage: str) -> str:
        return posixpath.join(self.workdir, stage)

    def _data_dir(self, stage: str) -> str:
        return posixpath.join(self._stage_dir(stage), "data")

    def _fs_data_dir(self, stage: str) -> str:
        return posixpath.join(self._root, stage, "data")

    def _fs_sidecar(self, stage: str) -> str:
        return posixpath.join(self._root, stage, "_lineage.json")

    # -- lineage -------------------------------------------------------
    def lineage(self, stage: str) -> dict | None:
        from pyarrow import fs as pafs

        p = self._fs_sidecar(stage)
        if self.fs.get_file_info(p).type == pafs.FileType.NotFound:
            return None
        with self.fs.open_input_stream(p) as fh:
            return json.loads(fh.read().decode())

    def fingerprint(self, stage: str) -> str | None:
        lin = self.lineage(stage)
        return lin.get("fingerprint") if lin else None

    def is_complete(self, stage: str, inputs: list[str] = ()) -> bool:
        lin = self.lineage(stage)
        if lin is None or lin.get("config_hash") != self.config_hash:
            return False
        expected = {s: self.fingerprint(s) for s in inputs}
        recorded = lin.get("inputs", {})
        return all(recorded.get(s) == fp and fp for s, fp in expected.items()) \
            if inputs else True

    # -- write / read --------------------------------------------------
    def write(
        self,
        df: DataFrame,
        stage: str,
        key: str | list[str],
        inputs: list[str] = (),
        num_partitions: int | None = None,
        sort_keys: list[str] | None = None,
        preserve_partitioning: bool = False,
    ) -> DataFrame:
        """Deterministically materialize a stage: hash-repartition by
        ``key``, sort within partitions by ``sort_keys`` (a per-row-unique
        key set, so the sort itself stays cheap), write, record
        per-partition rows + an ALL-column xxhash64-fold checksum as
        lineage (sorting every column would double the stage cost, but
        checksumming every column is one extra projection riding the write
        job and makes the fingerprint content-addressed over the full row,
        not just the sort keys).  Returns the re-read DataFrame (so
        downstream stages read the checkpoint, never the live plan).

        ``preserve_partitioning=True`` drops the repartition+sort entirely
        and writes the stage's natural (upstream) partitioning — for stages
        whose plan already guarantees the checkpoint contract that matters
        downstream: every ``key`` group wholly inside one partition, rows of
        a group contiguous.  A per-row map/explode over a source whose rows
        are whole key groups (the docs table: one row per doc_id) satisfies
        it with NO exchange — the only full shuffle of such a stage is the
        one this flag removes.  Determinism still holds (scan split planning
        is deterministic for a fixed file set + scan confs), and the
        fingerprint stays content-addressed (row counts + order-independent
        xor checksum).  Partition-count note: the layout follows the scan's
        split planning (maxPartitionBytes and friends), not
        ``num_partitions``."""
        from pyspark.sql import Observation

        keys = [key] if isinstance(key, str) else list(key)
        sort_keys = sort_keys or keys
        if preserve_partitioning:
            out = df
        else:
            n = num_partitions or df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "32"
            )
            # The sort is prefixed with an 8-byte hash of the leading sort
            # key: stage keys are accession strings with long common
            # prefixes, so a plain lexicographic sort pays a multi-byte
            # compare per pair, while the hash prefix decides almost every
            # comparison on one long (measured ~40% off the write stage at
            # 80k docs).  Equal keys hash equal, so key groups stay
            # contiguous in the file and the (hash, *sort_keys) order is
            # still a deterministic total order.
            out = df.repartition(
                int(n), *[F.col(k) for k in keys]
            ).sortWithinPartitions(
                F.xxhash64(F.col(sort_keys[0])), *sort_keys
            )
        path = self._data_dir(stage)
        # the schema as written, so every re-read skips schema inference (a
        # Spark job per read); parquet sources force it nullable, exactly as
        # inference would
        schema = out.schema
        # checksum piggybacks on the write job itself (Observation) — no
        # second full-data pass; xor-fold of xxhash64 over EVERY column is
        # order-independent, overflow-free, and covers non-key values (a
        # sort-key-only checksum would let a re-run that changed payload
        # columns slip past downstream resume checks)
        obs = Observation(f"ckpt_{stage}")
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*out.columns)).alias("checksum"),
        )
        out.write.mode("overwrite").parquet(path)
        metrics = obs.get

        # per-partition row counts come free from the parquet footers (one
        # output file per hash partition; listed through pyarrow.fs so
        # object-store workdirs behave like local ones)
        parts = self._partition_metrics(self._fs_data_dir(stage))
        checksum = int(metrics.get("checksum") or 0)
        # fingerprint = CONTENT only (per-partition row counts + the global
        # checksum).  Part-file names embed the write job's UUID, so hashing
        # them would make byte-identical re-runs invalidate every downstream
        # checkpoint; names stay in the sidecar for reference but out of the
        # hash (content-addressed resume).
        fingerprint = _config_hash([[p["rows"] for p in parts], checksum])
        lineage = {
            "stage": stage,
            "config_hash": self.config_hash,
            "inputs": {s: self.fingerprint(s) for s in inputs},
            "partitions": parts,
            "total_rows": int(metrics.get("rows") or 0),
            "checksum": checksum,
            "fingerprint": fingerprint,
            "schema": schema.jsonValue(),
            "written_at_ms": int(time.time() * 1000),
        }
        payload = json.dumps(lineage, indent=1).encode()
        with self.fs.open_output_stream(self._fs_sidecar(stage)) as fh:
            fh.write(payload)
        return self.spark.read.schema(schema).parquet(path)

    def _partition_metrics(self, fs_path: str) -> list[dict]:
        import posixpath as pp

        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(fs_path, allow_not_found=True)
        infos = [
            i for i in self.fs.get_file_info(sel)
            if i.is_file and pp.basename(i.path).startswith("part-")
        ]
        parts = []
        for info in sorted(infos, key=lambda i: i.path):
            with self.fs.open_input_file(info.path) as fh:
                rows = pq.ParquetFile(fh).metadata.num_rows
            parts.append(
                {
                    "partition_id": len(parts),
                    "file": pp.basename(info.path),
                    "rows": rows,
                    # byte size feeds grouped_scan's no-split guarantee; it
                    # stays OUT of the fingerprint (rows+checksum only) so
                    # a parquet-encoder version bump can't invalidate resume
                    "bytes": info.size,
                }
            )
        return parts

    def max_partition_bytes(self, stage: str) -> int | None:
        """Largest part-file of a completed stage, from the lineage sidecar
        (no filesystem listing).  None when the stage is missing or was
        written by a pre-`bytes` sidecar version."""
        lin = self.lineage(stage)
        if not lin:
            return None
        sizes = [p.get("bytes") for p in lin.get("partitions", [])]
        if not sizes or any(s is None for s in sizes):
            return None
        return int(max(sizes))

    def read(self, stage: str) -> DataFrame:
        """The stage's checkpoint, read with the schema its sidecar recorded
        (no inference job); sidecars without one fall back to inference."""
        lin = self.lineage(stage) or {}
        reader = self.spark.read
        if "schema" in lin:
            reader = reader.schema(StructType.fromJson(lin["schema"]))
        return reader.parquet(self._data_dir(stage))

    def run_stage(
        self,
        stage: str,
        build,  # () -> DataFrame
        key: str | list[str],
        inputs: list[str] = (),
        num_partitions: int | None = None,
        sort_keys: list[str] | None = None,
        preserve_partitioning: bool = False,
    ) -> DataFrame:
        """Resume-aware stage execution: reuse the checkpoint when complete
        and consistent with config + upstream lineage, else (re)compute."""
        if self.is_complete(stage, inputs):
            return self.read(stage)
        return self.write(build(), stage, key, inputs, num_partitions,
                          sort_keys, preserve_partitioning)
