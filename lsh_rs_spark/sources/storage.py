"""Checkpointed stage storage with commit manifests (Iceberg-shaped).

The reference persists engine state atomically (bincode dump
`lsh-rs/src/lsh/lsh.rs:606-639`; SQLite transactions
`lsh-rs/src/table/sqlite.rs:202-213`).  Our unit of durability is a
*pipeline stage*: each stage's DataFrame is written once and sealed with an
atomically-renamed ``_COMMITTED.json`` manifest carrying rows (observed on
the write), schema (JSON: reads infer nothing), stage counters, config
fingerprint and parents — the north rule's checkpoint/resume + lineage.

Backend selection: if the session has an Iceberg catalog configured
(``spark.sql.catalog.*`` + runtime jar) tables go through it; otherwise a
plain-parquet directory catalog with identical commit semantics (this
sandbox has no Iceberg jar — SURVEY §7.0).  All pipeline code talks to this
adapter only.

Resume correctness: stage writes are idempotent — a crashed write leaves no
manifest, so the stage reruns from its (already-committed) parents; a
committed stage is never recomputed (`resume=True`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

MANIFEST = "_COMMITTED.json"


def _iceberg_catalog(spark: SparkSession) -> str | None:
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3:
            return k.rsplit(".", 1)[1]
    return None


@dataclass
class StageStore:
    spark: SparkSession
    root: str
    config_fingerprint: str = ""
    use_iceberg: bool | None = None
    namespace: str = "lsh_rs"
    #: explicit catalog name (multi-catalog sessions / runtime-set confs —
    #: auto-detection only sees static sparkContext conf)
    catalog: str | None = None
    #: provider passed to ``writeTo(...).using(...)``; None lets the
    #: catalog's default table format apply (e.g. the built-in JDBC V2
    #: catalog used by the integration tests rejects a provider clause)
    table_format: str | None = "iceberg"
    _catalog: str | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        self._catalog = self.catalog or _iceberg_catalog(self.spark)
        if self.use_iceberg is None:
            self.use_iceberg = self._catalog is not None
        if self.use_iceberg and self._catalog is None:
            raise ValueError(
                "use_iceberg=True but no spark.sql.catalog.* is configured"
            )
        if self.use_iceberg:
            self._preflight_catalog()

    def _preflight_catalog(self) -> None:
        """Fail fast, actionably, BEFORE any stage work if the configured
        catalog implementation is not on the classpath (e.g. the Iceberg
        runtime jar is missing) — otherwise the first symptom is a
        mid-pipeline ClassNotFoundException after expensive stages ran.
        Probes the real JVM classloader, so a test can exercise this path
        without any Iceberg jar present."""
        key = f"spark.sql.catalog.{self._catalog}"
        impl = self.spark.conf.get(key, None)
        if impl is None:
            raise ValueError(
                f"catalog {self._catalog!r} requested but {key} is not set"
            )
        # Probe through Spark's own Utils.classForName (the session
        # classloader — sees --packages/--jars, unlike raw py4j
        # reflection).  Only a POSITIVE ClassNotFound blocks construction;
        # an inconclusive probe (Spark Connect has no _jvm, or a
        # classloader quirk) must never fail a catalog that writeTo()
        # would accept — those surface their own errors at write time.
        try:
            jvm = getattr(self.spark, "_jvm", None)
            if jvm is not None:
                jvm.org.apache.spark.util.Utils.classForName(impl, False, True)
        except Exception as e:
            if "ClassNotFoundException" in str(e):
                raise RuntimeError(
                    f"catalog implementation {impl!r} ({key}) is not on the "
                    "classpath — is the runtime jar missing?  For Iceberg, "
                    "submit with --packages org.apache.iceberg:"
                    "iceberg-spark-runtime-<spark_ver>_<scala_ver>:"
                    "<iceberg_ver> (or spark.jars)."
                ) from e
            # probe unavailable/inconclusive — do not block the catalog
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self._catalog}.{self.namespace}"
        )

    def _identifier(self, name: str) -> str:
        return f"{self._catalog}.{self.namespace}.{name}"

    # -- paths ---------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), MANIFEST)

    # -- api -----------------------------------------------------------
    def is_committed(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def manifest(self, name: str) -> dict:
        with open(self._manifest_path(name)) as f:
            return json.load(f)

    def write(
        self,
        df: DataFrame,
        name: str,
        parents: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
        sort_within: tuple[str, ...] = (),
        counters: Callable[[DataFrame], dict] | None = None,
    ) -> dict:
        """Write a stage + seal it.  Returns the manifest.

        Backend dispatch: an Iceberg catalog routes data through
        ``df.writeTo(catalog.ns.name)`` (atomic table replace — Iceberg's
        snapshot commit IS the data commit point); otherwise plain parquet
        behind an atomic directory swap.  Both branches unseal the stage
        before replacing its data and seal it with the SAME manifest after
        the data commit, so a crash anywhere in between reruns the
        idempotent stage write.  ``rows`` is observed on the write itself;
        ``counters(committed data) -> dict`` runs before the seal."""
        t0 = time.time()
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        if self.use_iceberg:
            # the table replace leaves the stage dir alone (the parquet
            # branch removes it): drop the old manifest first, or a crash
            # before _seal leaves it vouching for the new data
            if self.is_committed(name):
                os.remove(self._manifest_path(name))
            self._write_iceberg(df, name, partition_by)
        else:
            self._write_parquet(df, name, partition_by)
        manifest = {
            "stage": name,
            "backend": "iceberg" if self.use_iceberg else "parquet",
            "table": self._identifier(name) if self.use_iceberg else None,
            "rows": obs.get["rows"],
            "parents": list(parents),
            "config": self.config_fingerprint,
            "schema": df.schema.json(),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "counters": {},
        }
        if counters:  # over the committed, not yet sealed data
            manifest["counters"] = counters(
                self.spark.read.table(self._identifier(name)) if self.use_iceberg
                else self.spark.read.schema(df.schema).parquet(self._dir(name) + ".tmp")
            )
        manifest["write_seconds"] = round(time.time() - t0, 3)
        self._seal(name, manifest)
        return manifest

    def _write_parquet(
        self, df: DataFrame, name: str, partition_by: tuple[str, ...]
    ) -> None:
        out = self._dir(name)
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if os.path.exists(out):
            shutil.rmtree(out)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

    def _write_iceberg(
        self, df: DataFrame, name: str, partition_by: tuple[str, ...]
    ) -> None:
        """DataFrameWriterV2 path: createOrReplace is a single atomic
        Iceberg snapshot commit (the reference's durable-backend contract,
        `lsh-rs/src/table/sqlite.rs:107-356` — transactional replace)."""
        writer = df.writeTo(self._identifier(name))
        if self.table_format:
            writer = writer.using(self.table_format)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()

    def _seal(self, name: str, manifest: dict) -> None:
        """Atomically place the _COMMITTED manifest.

        Parquet branch: the data already sits in ``<name>.tmp``; manifest
        lands inside it and the directory swap is the commit point.
        Iceberg branch: the table commit already happened; only the local
        manifest marker moves (single atomic rename).  Dispatch is on
        ``self.use_iceberg``, NOT on tmp-dir existence — a stale
        ``<name>.tmp`` left by an earlier parquet-mode run must never be
        swapped in as if it were the Iceberg data commit."""
        out = self._dir(name)
        tmp = out + ".tmp"
        if self.use_iceberg and os.path.isdir(tmp):
            shutil.rmtree(tmp)  # stale parquet-mode leftover, not our data
        if not self.use_iceberg:  # parquet: swap the sealed tmp dir in
            with open(os.path.join(tmp, MANIFEST + ".tmp"), "w") as f:
                json.dump(manifest, f, indent=1)
            os.replace(
                os.path.join(tmp, MANIFEST + ".tmp"), os.path.join(tmp, MANIFEST)
            )
            os.replace(tmp, out)  # atomic dir swap: commit point
        else:  # iceberg: manifest marker only
            os.makedirs(out, exist_ok=True)
            mtmp = os.path.join(out, MANIFEST + ".tmp")
            with open(mtmp, "w") as f:
                json.dump(manifest, f, indent=1)
            os.replace(mtmp, os.path.join(out, MANIFEST))

    def read(self, name: str) -> DataFrame:
        if not self.is_committed(name):
            raise FileNotFoundError(f"stage {name!r} not committed under {self.root}")
        if self.use_iceberg:
            return self.spark.read.table(self._identifier(name))
        # the stored schema: no inference job, and no files read as 0 rows
        schema = StructType.fromJson(json.loads(self.manifest(name)["schema"]))
        return self.spark.read.schema(schema).parquet(self._dir(name))

    def drop(self, name: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._identifier(name)}")
        d = self._dir(name)
        if os.path.exists(d):
            shutil.rmtree(d)

    def stages(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root) if self.is_committed(d)
        )
