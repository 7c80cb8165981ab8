"""StateStore: the physical-storage seam for the engine's durable state.

The crawl engine's state model is Iceberg-shaped by construction —
append-only delta tables per round (Iceberg appends), periodic compaction
(``rewrite_data_files`` + snapshot expiry), and an atomic publish marker
(snapshot commit). In this sandbox there is no Iceberg runtime, so the
default binding (``ParquetStateStore``) realizes the same shapes as parquet
directories with rename-based commits; on a real cluster the engine binds
``IcebergStateStore`` (or any other subclass) WITHOUT touching engine code
— ``RoundCheckpoint`` (and the sharded bloom library in ``bloom.py``)
route every physical read/write/list/publish through this interface.

Operation → Iceberg mapping (what each method becomes on a real catalog):

    write_table      df.writeTo(ident).using("iceberg").createOrReplace()
    append_table     df.writeTo(ident).append()
    read_table       spark.read.table(ident) (multi-path union → snapshot
                     read; the delta-chain union is Iceberg's own
                     merge-on-read once deltas are appends to ONE table)
    remove_table     DROP TABLE ident
    publish          the snapshot commit itself (no-op: Iceberg commits
                     are atomic)
    put_manifest     snapshot summary properties
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession


class StateStore:
    """Interface; see module docstring. Paths are opaque table locators —
    the parquet store treats them as directories, the Iceberg store maps
    them to catalog identifiers."""

    def write_table(self, df: DataFrame, path: str) -> None:
        raise NotImplementedError

    def read_table(
        self, spark: SparkSession, *paths: str, schema=None
    ) -> DataFrame:
        """``schema`` (DDL string or StructType), when given, is the
        tables' known schema: a binding that would otherwise infer it from
        the files uses it instead."""
        raise NotImplementedError

    def table_exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_children(self, base: str) -> list[str]:
        raise NotImplementedError

    def ensure_base(self, base: str) -> None:
        raise NotImplementedError

    def remove_table(self, path: str) -> None:
        raise NotImplementedError

    def publish(self, tmp_path: str, final_path: str) -> None:
        raise NotImplementedError

    def put_manifest(self, path: str, data: dict) -> None:
        raise NotImplementedError

    def get_manifest(self, path: str) -> dict:
        raise NotImplementedError

    def manifest_exists(self, path: str) -> bool:
        raise NotImplementedError


class ParquetStateStore(StateStore):
    """The sandbox/default binding: parquet dirs + POSIX rename commits.

    Equivalent guarantees to the Iceberg mapping at single-writer scope:
    overwrite lands under ``_temporary`` then renames, ``publish`` is
    ``os.replace`` (atomic on one filesystem), and the manifest is written
    tmp-then-rename so a torn write never reads as a complete round."""

    def write_table(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    def read_table(
        self, spark: SparkSession, *paths: str, schema=None
    ) -> DataFrame:
        # without a schema the reader runs a footer-inference Spark job on
        # every call; the engine's state tables have fixed schemas
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    def table_exists(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_children(self, base: str) -> list[str]:
        return os.listdir(base) if os.path.isdir(base) else []

    def ensure_base(self, base: str) -> None:
        os.makedirs(base, exist_ok=True)

    def remove_table(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def publish(self, tmp_path: str, final_path: str) -> None:
        if os.path.isdir(final_path):
            shutil.rmtree(final_path)
        os.replace(tmp_path, final_path)

    def put_manifest(self, path: str, data: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, path)

    def get_manifest(self, path: str) -> dict:
        with open(path) as f:
            return json.load(f)

    def manifest_exists(self, path: str) -> bool:
        return os.path.exists(path)


class IcebergStateStore(StateStore):
    """Real-catalog binding. Requires a configured Iceberg catalog
    (``spark.sql.catalog.<name>`` + runtime jars) — absent from this
    sandbox, so every Spark-touching call raises with setup guidance; the
    identifier mapping is pure and unit-tested.

    Locator mapping: a path like ``<base>/round=3/seen_delta.parquet``
    becomes ``<catalog>.<namespace>.round_3__seen_delta`` — one table per
    axis-round, exactly the delta-log layout. (A production refinement
    appends all rounds of one axis to a single partitioned table and lets
    Iceberg snapshots BE the round log; the per-round-table form keeps the
    1:1 correspondence with the parquet layout.)"""

    def __init__(self, catalog: str, namespace: str = "crawl_state"):
        self.catalog = catalog
        self.namespace = namespace

    def identifier(self, path: str) -> str:
        parts = [p for p in path.strip("/").split("/") if p]
        # last two segments carry the state identity (round=N / table.parquet)
        tail = parts[-2:] if len(parts) >= 2 else parts
        name = "__".join(
            re.sub(r"[^A-Za-z0-9_]", "_", p.removesuffix(".parquet"))
            for p in tail
        )
        return f"{self.catalog}.{self.namespace}.{name}"

    def _require(self, spark: SparkSession) -> None:
        if not spark.conf.get(f"spark.sql.catalog.{self.catalog}", None):
            raise RuntimeError(
                f"Iceberg catalog {self.catalog!r} is not configured. Add "
                "the iceberg-spark-runtime jar and set "
                f"spark.sql.catalog.{self.catalog}="
                "org.apache.iceberg.spark.SparkCatalog (plus warehouse/"
                "catalog-impl) to bind the crawl state to Iceberg."
            )

    def write_table(self, df: DataFrame, path: str) -> None:
        self._require(df.sparkSession)
        df.writeTo(self.identifier(path)).using("iceberg").createOrReplace()

    def read_table(
        self, spark: SparkSession, *paths: str, schema=None
    ) -> DataFrame:
        # the catalog holds each table's schema; ``schema`` is not needed
        self._require(spark)
        out = None
        for p in paths:  # delta-chain union == snapshot-forward read
            t = spark.read.table(self.identifier(p))
            out = t if out is None else out.unionByName(t)
        return out

    def table_exists(self, path: str) -> bool:  # pragma: no cover - needs jars
        raise RuntimeError("bind a live catalog (see _require)")

    def list_children(self, base: str) -> list[str]:  # pragma: no cover
        raise RuntimeError("bind a live catalog (see _require)")

    def ensure_base(self, base: str) -> None:
        pass  # namespaces are created by the catalog

    def remove_table(self, path: str) -> None:  # pragma: no cover
        raise RuntimeError("bind a live catalog (see _require)")

    def publish(self, tmp_path: str, final_path: str) -> None:
        pass  # Iceberg commits are atomic; no staging rename exists

    def put_manifest(self, path: str, data: dict) -> None:  # pragma: no cover
        raise RuntimeError("manifests map to snapshot summary properties")

    def get_manifest(self, path: str) -> dict:  # pragma: no cover
        raise RuntimeError("manifests map to snapshot summary properties")

    def manifest_exists(self, path: str) -> bool:  # pragma: no cover
        raise RuntimeError("manifests map to snapshot summary properties")


DEFAULT_STORE = ParquetStateStore()
