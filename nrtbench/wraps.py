"""The public calls a traced run wraps in spans."""

from __future__ import annotations


def _read_name(args, kwargs) -> str:
    """read(version=None, timestamp=None): time travel gets its own span
    name so mid-chain snapshots are reported apart."""
    version = args[1] if len(args) > 1 else kwargs.get("version")
    ts = args[2] if len(args) > 2 else kwargs.get("timestamp")
    return "tables.read" if version is None and ts is None else "tables.read_version"


def install(tracer) -> None:
    from nrtwithdeltalake_spark.pipeline import incremental
    from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum
    from nrtwithdeltalake_spark.pipeline.config import ConfigStore
    from nrtwithdeltalake_spark.pipeline.rollup import IncrementalRollup
    from nrtwithdeltalake_spark.pipeline.tables import VersionedTable

    for attr in ("init", "register_entity", "open_watermark", "close_watermark",
                 "entities_with_watermarks"):
        tracer.wrap(ConfigStore, attr, f"config.{attr}")
    for attr in ("load_entity", "run_pipeline"):
        tracer.wrap(incremental, attr, f"incremental.{attr}")
    for attr in ("merge", "append", "update", "delete", "overwrite", "create",
                 "get_commit", "change_feed"):
        tracer.wrap(VersionedTable, attr, f"tables.{attr}")
    tracer.wrap(VersionedTable, "read", _read_name)
    tracer.wrap(IncrementalRollup, "refresh", "rollup.refresh")
    tracer.wrap(IncrementalChecksum, "refresh", "checksum_view.refresh")
