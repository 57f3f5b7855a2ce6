"""Storage facade: chunked, resumable, lineage-tracked pipeline writes.

The north rule requires every stage to write per-partition lineage +
row-count metrics to a checkpoint table so a killed job resumes from the
last committed partition. With an Iceberg runtime on the classpath the
engine would ``df.writeTo(table).append()`` per chunk. This container has
no Iceberg jars (SURVEY.md §7), so the facade keeps the same contract with
ONE ledger, a :class:`~rio_color_spark.sources.snapshots.SnapshotTable`:

- data lands under ``<base>/<output>/chunk=<k>/`` (one directory per
  output and chunk, written with overwrite semantics so a re-run of a
  half-written chunk is idempotent)
- a chunk is COMMITTED only when its snapshot exists: one metadata-only
  ``add_files`` of the chunk's ``images`` files, made AFTER every output
  write returns. Its summary carries ``pipeline_chunk``, each output's
  ``paths`` and footer row ``counts``, and any ``extra`` (the pipeline
  records the chunk's input fingerprint ``stripe_md5`` there)
- resume = read the snapshot log, skip committed chunks; a resume over a
  rewritten/compacted source fails fast on the recorded fingerprint
  (pipeline.run_pipeline)
- lineage = ``SnapshotTable.history()``: one row per commit, with the
  summary (chunk, paths, counts) as JSON

The ledger lives at ``<base>/_snapshots`` unless the caller names another
path. A commit reads parquet footers and writes table metadata only: no
Spark job, no Spark reader call. The contract (committed-chunk list,
per-chunk row counts, idempotent re-run, crash before the commit → chunk
re-runs) is under test (tests/test_checkpoint.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rio_color_spark.sources.snapshots import SnapshotTable


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


class CheckpointedWriter:
    """Chunked, resumable, lineage-tracked writer; its ledger is a
    :class:`SnapshotTable` of the ``images`` output."""

    def __init__(
        self, base_path: str, write_options: dict | None = None,
        ledger_path: str | None = None,
    ):
        """``write_options`` are writer creation options applied to every
        data write (the facade analogue of GDAL creation options /
        Iceberg table properties — reference cli.py:85 ``--co``), e.g.
        ``{"compression": "zstd"}``. ``ledger_path`` is where the snapshot
        table lives (default ``<base_path>/_snapshots``)."""
        self.base = base_path.rstrip("/")
        self.write_options = dict(write_options or {})
        self.table = SnapshotTable(ledger_path or os.path.join(self.base, "_snapshots"))

    def committed(self) -> dict[int, dict]:
        """chunk_id → its snapshot (``snapshot_id``, ``timestamp_ms``,
        ``summary``) for every committed chunk."""
        try:
            snaps = self.table.metadata()["snapshots"]
        except FileNotFoundError:
            return {}
        return {
            s["summary"]["pipeline_chunk"]: s
            for s in snaps
            if "pipeline_chunk" in s["summary"]
        }

    def write_data(self, df: DataFrame, name: str, chunk: int) -> str:
        """Write one named output of a chunk (no commit yet); returns path."""
        path = os.path.join(self.base, name, f"chunk={chunk}")
        df.write.mode("overwrite").options(**self.write_options).parquet(path)
        return path

    def commit_chunk(
        self, chunk: int, paths: dict[str, str], extra: dict | None = None
    ) -> dict:
        """Commit a written chunk: one ``add_files`` snapshot of its images
        files, with every output's footer row count in the summary.
        Returns the new snapshot."""
        import pyarrow.parquet as pq

        files = {name: _parquet_files(p) for name, p in paths.items()}
        counts = {
            name: sum(pq.read_metadata(f).num_rows for f in fs)
            for name, fs in files.items()
        }
        try:
            self.table.metadata()
        except FileNotFoundError:
            self._create(files["images"][0])
        meta = self.table.add_files(
            files["images"],
            summary_extra={
                "pipeline_chunk": chunk,
                "paths": dict(paths),
                "counts": counts,
                **(extra or {}),
            },
        )
        return meta["snapshots"][-1]

    def _create(self, sample_file: str) -> None:
        """Create the ledger with the schema of a written images file's
        footer (pyarrow, no Spark reader)."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(pq.read_schema(sample_file))
        SnapshotTable.create(
            self.table.base,
            ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields),
        )

    def read(self, spark: SparkSession, name: str = "images") -> DataFrame:
        """All committed data for one named output (uncommitted dirs ignored)."""
        paths = [
            s["summary"]["paths"][name]
            for s in self.committed().values()
            if name in s["summary"]["paths"]
        ]
        if not paths:
            raise FileNotFoundError(f"no committed chunks for {name!r} under {self.base}")
        return spark.read.parquet(*paths)
