"""Public façade: the one object a user of the reference pipeline needs.

The reference promises "migrate ATLAS objects … using Pyspark"
(/root/reference/README.md:3); the engine's internals are a registry of
named queries (the authoritative count lives in SURVEY.md §2.11 and
`len(QUERIES)` — never hardcoded here) plus connector/orchestration
modules. `AtlasEngine`
stitches them into a product-shaped API so switching from the reference
is one import:

    from atlas_migration_repo_spark.api import AtlasEngine

    eng = AtlasEngine(sf_dir="/data/atlas")       # builds/reuses a session
    eng.table("orders")                            # DataFrame over parquet
    eng.sql("SELECT COUNT(*) FROM lineitem")       # views auto-registered
    eng.run("agg_pricing_summary")                 # any registered query
    eng.migrate(objects, sink_root="s3a://b/atlas")  # DAG + lineage specs
    eng.write(df, "/out/t", partition_by=("dt",))  # partitioned landing

Everything delegates to the tested layers (catalog / registry /
orchestration / sources.cloud); the façade adds no logic of its own
beyond lazy view registration, so it cannot drift from them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from atlas_migration_repo_spark import orchestration
from atlas_migration_repo_spark.catalog import TABLES, load
from atlas_migration_repo_spark.registry import QUERIES, load_all_modules
from atlas_migration_repo_spark.session import get_spark
from atlas_migration_repo_spark.sources.salesforce import ObjectSpec

def _default_sf_dir() -> str:
    """Resolve the data directory from $ATLAS_SF_DIR; no silent machine-local
    default — a facade that points new users at a path that only exists on
    one harness is worse than an explicit error."""
    import os

    sf_dir = os.environ.get("ATLAS_SF_DIR")
    if not sf_dir:
        raise ValueError(
            "AtlasEngine needs a data directory: pass sf_dir=... or set "
            "$ATLAS_SF_DIR to a directory of <table>.parquet files"
        )
    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(f"$ATLAS_SF_DIR={sf_dir!r} is not a directory")
    return sf_dir


class AtlasEngine:
    """Session + catalog + query registry behind one object."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str | None = None,
        app_name: str = "atlas-engine",
    ) -> None:
        """A ``spark`` passed in keeps its own static confs, e.g. DataFrame
        origin capture, which ``get_spark`` turns off, and the generated-class
        cache size (``spark.sql.codegen.cache.maxEntries``), which it raises;
        neither can be changed once a session exists."""
        self.spark = spark or get_spark(app_name=app_name)
        self.sf_dir = sf_dir if sf_dir is not None else _default_sf_dir()
        self._views_registered = False
        load_all_modules()

    # -- catalog ---------------------------------------------------------
    def tables(self) -> tuple[str, ...]:
        return TABLES

    def table(self, name: str) -> DataFrame:
        return load(self.spark, self.sf_dir, name)

    # -- ad-hoc SQL ------------------------------------------------------
    def sql(self, statement: str) -> DataFrame:
        """Run SQL with every catalog table available as a view (registered
        once per engine, lazily — a façade convenience; the underlying
        scans still prune and push down through the views)."""
        if not self._views_registered:
            for t in TABLES:
                self.table(t).createOrReplaceTempView(t)
            self._views_registered = True
        return self.spark.sql(statement)

    # -- registered queries ----------------------------------------------
    def queries(self) -> list[str]:
        return list(QUERIES)

    def run(self, name: str) -> DataFrame:
        if name not in QUERIES:
            raise KeyError(f"unknown query {name!r}; see .queries()")
        return QUERIES[name].fn(self.spark, self.sf_dir)

    def oracle(self, name: str) -> str | None:
        """The DuckDB oracle SQL a query is verified against (None for the
        rows-only approximate/iterative ops)."""
        if name not in QUERIES:
            raise KeyError(f"unknown query {name!r}; see .queries()")
        return QUERIES[name].oracle

    # -- migration -------------------------------------------------------
    def migrate(
        self,
        objects: Sequence[ObjectSpec],
        sink_root: str,
        schedule: str = "@daily",
        dag_id: str = "atlas_migration",
    ) -> dict:
        """The offline migration bundle: the declarative Airflow-shaped DAG
        spec plus column-level lineage for the same objects and sink."""
        sink = orchestration.SinkSpec(root=sink_root)
        return {
            "dag": orchestration.dag_spec(dag_id, objects, sink, schedule=schedule),
            "lineage": orchestration.lineage_spec(objects, sink),
        }

    # -- landing ---------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        path: str,
        partition_by: Sequence[str] = (),
        mode: str = "overwrite",
        fmt: str = "parquet",
    ) -> None:
        w = df.write.mode(mode).format(fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)

    def read_table(self, path: str) -> DataFrame:
        """Read ANY table this engine speaks — Delta (TableLog included),
        Iceberg or Hudi — with the format auto-detected from the metadata
        tree (the lakehouse CLI's detection)."""
        from atlas_migration_repo_spark.lakehouse import detect_format

        fmt = detect_format(path)
        if fmt == "iceberg":
            return self.read_iceberg(path)
        if fmt == "hudi":
            return self.read_hudi(path)
        return self.read_delta(path)

    def register_table(self, name: str, path: str) -> None:
        """Expose any lakehouse table to `.sql()` as a temp view."""
        self.read_table(path).createOrReplaceTempView(name)

    def migrate_table(
        self,
        src_path: str,
        dst_path: str,
        dst_format: str,
        partition_by: Sequence[str] = (),
        record_key: str | None = None,
    ) -> None:
        """One-call table migration: read `src_path` (format
        auto-detected) and land it at `dst_path` in `dst_format`
        (delta | iceberg | hudi | tablelog | parquet). This is the
        rewrite path — for same-file adoptions use the zero-copy
        converters (convert_to_delta, adopt_hudi, adopt_delta_to_hudi,
        publish_uniform)."""
        df = self.read_table(src_path)
        pby = list(partition_by)
        if dst_format == "delta":
            from atlas_migration_repo_spark.sources.delta_interop import (
                write_delta,
            )

            write_delta(df, dst_path, partition_by=pby)
        elif dst_format == "iceberg":
            from atlas_migration_repo_spark.sources.iceberg_interop import (
                write_iceberg,
            )

            write_iceberg(df, dst_path, partition_by=pby)
        elif dst_format == "hudi":
            from atlas_migration_repo_spark.sources.hudi_interop import (
                write_hudi,
            )

            write_hudi(
                df,
                dst_path,
                record_key=record_key or df.columns[0],
                partition_by=pby,
            )
        elif dst_format == "tablelog":
            from atlas_migration_repo_spark.sources.table_log import TableLog

            TableLog(dst_path).append(df, partition_by=pby or None)
        elif dst_format == "parquet":
            self.write(df, dst_path, partition_by=pby)
        else:
            raise ValueError(
                "dst_format must be delta|iceberg|hudi|tablelog|parquet, "
                f"got {dst_format!r}"
            )

    # -- lakehouse formats (no jars; sources/delta_interop, iceberg_interop)
    def read_delta(self, path: str, version: int | None = None) -> DataFrame:
        """Read a Delta-format table via the pure-Python log reader
        (time travel with `version`)."""
        from atlas_migration_repo_spark.sources.delta_interop import read_delta

        return read_delta(self.spark, path, version=version)

    def write_delta(
        self,
        df: DataFrame,
        path: str,
        partition_by: Sequence[str] = (),
        mode: str = "overwrite",
        txn: tuple[str, int] | None = None,
    ) -> int:
        """`txn=(app_id, version)` makes the write idempotent (a
        replayed mark is a committed no-op) — exactly-once landing."""
        from atlas_migration_repo_spark.sources.delta_interop import write_delta

        return write_delta(
            df, path, partition_by=list(partition_by), mode=mode, txn=txn
        )

    def delete_delta(self, path: str, predicate: str) -> int:
        """Merge-on-read DELETE: rows matching the SQL `predicate` are
        position-tombstoned in deletion vectors — no data file is
        rewritten. Returns the new version."""
        from atlas_migration_repo_spark.sources.delta_interop import (
            delete_delta_dv,
        )

        return delete_delta_dv(self.spark, path, predicate)

    def optimize_delta(
        self,
        path: str,
        target_files: int | None = None,
        zorder_by: Sequence[str] = (),
        purge: bool = False,
    ) -> int:
        """Table maintenance: bin-packing compaction, optional
        `zorder_by` multi-column Morton clustering (log-stats skipping
        on every z column), `purge=True` first materializes accumulated
        deletion vectors (REORG APPLY PURGE)."""
        from atlas_migration_repo_spark.sources.delta_interop import (
            optimize_delta,
            purge_delta_dv,
        )

        if purge:
            purge_delta_dv(self.spark, path)
        return optimize_delta(
            self.spark,
            path,
            target_files=target_files,
            zorder_by=list(zorder_by) or None,
        )

    def read_iceberg(
        self, path: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Read an Iceberg v2 table via the pure-Python metadata/manifest
        reader (time travel with `snapshot_id`)."""
        from atlas_migration_repo_spark.sources.iceberg_interop import read_iceberg

        return read_iceberg(self.spark, path, snapshot_id=snapshot_id)

    def write_iceberg(
        self,
        df: DataFrame,
        path: str,
        partition_by: Sequence[str] = (),
        mode: str = "overwrite",
        txn: tuple[str, int] | None = None,
    ) -> int:
        """`txn=(app_id, version)` rides snapshot-summary write marks
        for idempotent (exactly-once) landing."""
        from atlas_migration_repo_spark.sources.iceberg_interop import write_iceberg

        return write_iceberg(
            df, path, partition_by=list(partition_by), mode=mode, txn=txn
        )

    def read_iceberg_incremental(
        self,
        path: str,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows ADDED between two snapshots (exclusive/inclusive) — the
        batch incremental append scan; planning opens only the in-range
        snapshots' own manifests."""
        from atlas_migration_repo_spark.sources.iceberg_interop import (
            read_iceberg_incremental,
        )

        return read_iceberg_incremental(
            self.spark, path, from_snapshot_id, to_snapshot_id
        )

    def read_hudi(
        self,
        path: str,
        as_of: str | None = None,
        partition_eq: dict[str, str] | None = None,
    ) -> DataFrame:
        """Snapshot / time-travel read of a Hudi COW table at `path`
        (as_of = timeline instant), with timeline-level partition
        pruning."""
        from atlas_migration_repo_spark.sources.hudi_interop import read_hudi

        return read_hudi(self.spark, path, as_of=as_of, partition_eq=partition_eq)

    def write_hudi(
        self,
        df: DataFrame,
        path: str,
        record_key: str,
        partition_by: list[str] | None = None,
        operation: str = "insert",
        **kw,
    ) -> str:
        """Land `df` as one Hudi COW commit (insert or insert_overwrite);
        returns the instant. Extra kwargs: precombine, checkpoint,
        event_time_field, table_name."""
        from atlas_migration_repo_spark.sources.hudi_interop import write_hudi

        return write_hudi(
            df,
            path,
            record_key=record_key,
            partition_by=partition_by,
            operation=operation,
            **kw,
        )

    def upsert_hudi(self, df: DataFrame, path: str) -> str:
        """Hudi COW UPSERT: precombine-deduped batch tagged against live
        file groups; only affected groups rewrite."""
        from atlas_migration_repo_spark.sources.hudi_interop import upsert_hudi

        return upsert_hudi(df, path)

    def delete_hudi(self, keys_df: DataFrame, path: str) -> str:
        """Hudi COW DELETE by record-key batch."""
        from atlas_migration_repo_spark.sources.hudi_interop import delete_hudi

        return delete_hudi(keys_df, path)

    def cluster_hudi(self, path: str) -> str:
        """Compact small file groups via a clustering replacecommit."""
        from atlas_migration_repo_spark.sources.hudi_interop import cluster_hudi

        return cluster_hudi(path)

    def hudi_timeline(self, path: str) -> list[tuple[str, str, str]]:
        """Completed timeline: (instant, action, operationType) rows."""
        from atlas_migration_repo_spark.sources.hudi_interop import (
            hudi_timeline,
        )

        return hudi_timeline(path)

    def compact_hudi(self, path: str) -> str:
        """MOR compaction: fold log files into new base files per group."""
        from atlas_migration_repo_spark.sources.hudi_interop import compact_hudi

        return compact_hudi(path)

    def savepoint_hudi(self, path: str, instant: str, comment: str = "") -> str:
        """Savepoint the state at `instant` (cleaner-proof, restore anchor)."""
        from atlas_migration_repo_spark.sources.hudi_interop import (
            savepoint_hudi,
        )

        return savepoint_hudi(path, instant, comment)

    def restore_hudi(self, path: str, to_instant: str) -> str:
        """Roll the table back to a savepointed instant (destructive)."""
        from atlas_migration_repo_spark.sources.hudi_interop import restore_hudi

        return restore_hudi(path, to_instant)

    def clean_hudi(self, path: str, retain_versions: int = 1) -> str:
        """Delete superseded file slices beyond the newest N per group."""
        from atlas_migration_repo_spark.sources.hudi_interop import clean_hudi

        return clean_hudi(path, retain_versions=retain_versions)

    def rollback_pending_hudi(
        self, path: str, older_than_ms: int = 3 * 86_400_000
    ) -> dict:
        """Reclaim crashed-writer debris: stale pending instants and the
        files they placed (grace-windowed)."""
        from atlas_migration_repo_spark.sources.hudi_interop import (
            rollback_pending_hudi,
        )

        return rollback_pending_hudi(path, older_than_ms=older_than_ms)

    def adopt_hudi(
        self,
        path: str,
        record_key: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Zero-copy adoption: graft a `.hoodie` timeline over an
        existing parquet directory (virtual-key mode)."""
        from atlas_migration_repo_spark.sources.hudi_interop import (
            adopt_parquet_to_hudi,
        )

        return adopt_parquet_to_hudi(
            self.spark, path, record_key, partition_by
        )

    def remove_orphan_files(
        self, path: str, older_than_ms: int = 3 * 86_400_000
    ) -> list[str]:
        """Reclaim crashed-writer debris under an Iceberg table location
        (files referenced by NO snapshot and older than the grace
        window); committed history untouched."""
        from atlas_migration_repo_spark.sources.iceberg_interop import (
            remove_orphan_files,
        )

        return remove_orphan_files(path, older_than_ms=older_than_ms)

    def convert_to_delta(self, tablelog_root: str) -> int:
        """CONVERT of a TableLog table to Delta: a TableLog is stored as
        Delta, and opening a root of the older `_log/` format imports it
        zero-copy with its history. Returns the Delta version."""
        from atlas_migration_repo_spark.sources.table_log import TableLog

        return TableLog(tablelog_root).versions()[-1]

    def adopt_delta(self, path: str):
        """A Delta table as a TableLog — same files, same log, full
        history. Returns the TableLog."""
        from atlas_migration_repo_spark.sources.table_log import TableLog

        return TableLog(path)

    def describe_table(self, path: str):
        """Format-auto-detected describe (delta/iceberg/hudi) from
        metadata alone — the CLI's `describe` as a library call."""
        from atlas_migration_repo_spark.lakehouse import run

        return run("describe", path)

    def rename_delta_column(self, path: str, old: str, new: str) -> int:
        """Delta-native RENAME COLUMN (columnMapping mode=name upgrade
        on first use; metadata-only, zero files rewritten)."""
        from atlas_migration_repo_spark.sources.delta_interop import (
            rename_delta_column,
        )

        return rename_delta_column(path, old, new)

    def publish_uniform(self, path: str, direction: str = "to_iceberg") -> int:
        """UniForm dual publish: graft the OTHER protocol's metadata
        tree over the same data files ("to_iceberg" over a Delta table,
        "to_delta" over an Iceberg table)."""
        if direction == "to_iceberg":
            from atlas_migration_repo_spark.sources.iceberg_interop import (
                publish_iceberg_metadata_from_delta,
            )

            return publish_iceberg_metadata_from_delta(self.spark, path)
        if direction == "to_delta":
            from atlas_migration_repo_spark.sources.delta_interop import (
                publish_delta_log_from_iceberg,
            )

            return publish_delta_log_from_iceberg(self.spark, path)
        raise ValueError("direction must be to_iceberg or to_delta")

    def sync_uniform(self, path: str, direction: str = "to_iceberg") -> int:
        """Bring a UniForm table's secondary tree current after commits
        on the primary — metadata-only, repeats no-op."""
        if direction == "to_iceberg":
            from atlas_migration_repo_spark.sources.iceberg_interop import (
                sync_iceberg_metadata_from_delta,
            )

            return sync_iceberg_metadata_from_delta(self.spark, path)
        if direction == "to_delta":
            from atlas_migration_repo_spark.sources.delta_interop import (
                sync_delta_log_from_iceberg,
            )

            return sync_delta_log_from_iceberg(self.spark, path)
        raise ValueError("direction must be to_iceberg or to_delta")

    def uniform_status(self, path: str) -> dict:
        """Dual-format sync status (the CLI's `uniform` verb)."""
        from atlas_migration_repo_spark.lakehouse import uniform_status

        return uniform_status(path)

    def widen_delta_column(self, path: str, column: str, to_type: str) -> int:
        """Delta-native lossless TYPE WIDENING (metadata-only)."""
        from atlas_migration_repo_spark.sources.delta_interop import (
            widen_delta_column,
        )

        return widen_delta_column(path, column, to_type)

    def add_delta_constraint(self, path: str, name: str, expr: str) -> int:
        """ADD CONSTRAINT ... CHECK (validates existing rows first;
        enforced on every subsequent write)."""
        from atlas_migration_repo_spark.sources.delta_interop import (
            add_delta_constraint,
        )

        return add_delta_constraint(self.spark, path, name, expr)

    def drop_delta_constraint(self, path: str, name: str) -> int:
        """DROP CONSTRAINT (metadata-only)."""
        from atlas_migration_repo_spark.sources.delta_interop import (
            drop_delta_constraint,
        )

        return drop_delta_constraint(path, name)
