"""Durable per-iteration checkpoints + lineage table.

North_rule: every iteration's vertex state is snapshotted with
per-partition lineage rows ``(run_id, algorithm, iteration, partition_id,
edge_count, message_count, wall_time_ms)`` so any run resumes
mid-algorithm. The reference's analog is the per-iteration attr write-back
(/root/reference/fogsrc/fog_engine.cpp:246-262, 1120-1144) plus its
utilization/CV logs (fog_engine.cpp:1969-2027) — but FOG cannot resume;
a crash restarts the algorithm.

Storage is parquet-directory-per-iteration with a ``_meta.json`` commit
marker written only after the parquet write succeeds (write-then-commit,
same recovery discipline as an Iceberg snapshot commit). The marker goes
to a dot-prefixed temp file first and is moved into place with
``os.replace``, so a crash never leaves an empty marker behind.

The store is driver-local (``os.makedirs``, ``open``), so a durable
iteration costs one Spark job, its state write: the re-read carries the
written frame's schema (no inference job), and each lineage append is one
parquet file built from an Arrow table on the driver, written under a
dot-prefixed temp name in ``_lineage/`` (Spark's file index skips it) and
committed by rename. Older ``_lineage/`` directories written by Spark's
parquet writer read back unchanged next to the new files.

Why not Iceberg *here*: this container ships no iceberg-spark-runtime jar
(see ``iceberg_available``) and has no network/package installs, so an
Iceberg writer could not even be smoke-tested — shipping one untested
would be worse than the documented fallback. On a cluster the swap is
local to this file: create the two tables from ``ICEBERG_STATE_DDL`` /
``ICEBERG_LINEAGE_DDL`` and replace the parquet writes with
``writeTo(...).append()`` — the commit marker disappears because Iceberg
snapshot commits are already atomic, and ``latest_complete`` becomes a
``MAX(iteration)`` over committed snapshots. ``IcebergCheckpointStore``
below is that swap; it keeps Spark-side ``writeTo(...).append()`` for
lineage and stays parked until an Iceberg runtime jar is present.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

LINEAGE_SCHEMA = (
    "run_id string, algorithm string, iteration int, partition_id int, "
    "edge_count long, message_count long, wall_time_ms long"
)

# Cluster DDL (SURVEY §1.4): the exact tables this store maps onto when an
# Iceberg catalog is configured. State rows append per (run_id, iteration)
# snapshot; resume reads the latest committed snapshot's max iteration.
ICEBERG_STATE_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.fog.checkpoint_state (
  run_id string, algorithm string, iteration int,
  id bigint, state_json string
) USING iceberg PARTITIONED BY (run_id, bucket(64, id))"""
ICEBERG_LINEAGE_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.fog.lineage (
  run_id string, algorithm string, iteration int, partition_id int,
  edge_count bigint, message_count bigint, wall_time_ms bigint
) USING iceberg PARTITIONED BY (run_id)"""


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog is configured AND its runtime classes
    load in this JVM. This sandbox has neither (no iceberg-spark-runtime
    jar, no network to fetch one), so the store below is the documented
    parquet + commit-marker fallback."""
    confs = spark.sparkContext.getConf().getAll()
    has_catalog = any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in confs
    )
    if not has_catalog:
        return False
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _commit_marker(d: str, meta: dict[str, Any]) -> None:
    """Write ``d/_meta.json`` atomically: a crash mid-write leaves the
    previous marker (or none), never an empty one."""
    tmp = os.path.join(d, "._meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(d, "_meta.json"))


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ state
    def _iter_dir(self, run_id: str, algorithm: str, iteration: int) -> str:
        return os.path.join(self.root, run_id, algorithm, f"iter={iteration:05d}")

    def write_state(
        self, run_id: str, algorithm: str, iteration: int, state: DataFrame, meta: dict[str, Any]
    ) -> DataFrame:
        """Write state parquet, then the commit marker; return re-read df
        (fresh lineage — the plan no longer grows with iteration count)."""
        d = self._iter_dir(run_id, algorithm, iteration)
        state.write.mode("overwrite").parquet(d)
        _commit_marker(d, {"iteration": iteration, **meta})
        # the known schema spares the re-read a schema-inference job
        return self.spark.read.schema(state.schema).parquet(d)

    def read_state(self, run_id: str, algorithm: str, iteration: int) -> DataFrame:
        return self.spark.read.parquet(self._iter_dir(run_id, algorithm, iteration))

    def write_meta(
        self, run_id: str, algorithm: str, iteration: int, meta: dict[str, Any]
    ) -> None:
        """Overwrite an already-committed iteration's metadata (the
        engine finalizes history/converged after write_state)."""
        _commit_marker(
            self._iter_dir(run_id, algorithm, iteration), {"iteration": iteration, **meta}
        )

    def read_meta(self, run_id: str, algorithm: str, iteration: int) -> dict[str, Any]:
        with open(os.path.join(self._iter_dir(run_id, algorithm, iteration), "_meta.json")) as f:
            return json.load(f)

    def latest_complete(self, run_id: str, algorithm: str) -> int | None:
        """Highest iteration with a commit marker — the resume point."""
        d = os.path.join(self.root, run_id, algorithm)
        if not os.path.isdir(d):
            return None
        best = None
        for name in os.listdir(d):
            m = re.fullmatch(r"iter=(\d+)", name)
            if m and os.path.exists(os.path.join(d, name, "_meta.json")):
                it = int(m.group(1))
                best = it if best is None else max(best, it)
        return best

    # ---------------------------------------------------------- lineage
    def append_lineage(self, rows: list[tuple]) -> None:
        """rows: (run_id, algorithm, iteration, partition_id, edge_count,
        message_count, wall_time_ms)."""
        if not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        types = {"string": pa.string(), "int": pa.int32(), "long": pa.int64()}
        schema = pa.schema(
            [(name, types[t]) for name, t in (f.split() for f in LINEAGE_SCHEMA.split(","))]
        )
        table = pa.Table.from_arrays(
            [pa.array(col, f.type) for col, f in zip(zip(*rows), schema)], schema=schema
        )
        d = os.path.join(self.root, "_lineage")
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(d, name))

    def read_lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.root, "_lineage")
        )


# --------------------------------------------------------------- iceberg

def pack_state(state: DataFrame, run_id: str, algorithm: str, iteration: int) -> DataFrame:
    """Generic-table encoding of an arbitrary-schema state frame:
    (run_id, algorithm, iteration, id, state_json) — state columns other
    than ``id`` ride as one JSON struct, so EVERY algorithm checkpoints
    into the single ICEBERG_STATE_DDL table. Pure Column math (to_json
    of a struct), no Python per row."""
    from pyspark.sql import functions as F

    others = [c for c in state.columns if c != "id"]
    return state.select(
        F.lit(run_id).alias("run_id"),
        F.lit(algorithm).alias("algorithm"),
        F.lit(iteration).cast("int").alias("iteration"),
        F.col("id").cast("long").alias("id"),
        F.to_json(F.struct(*others)).alias("state_json"),
    )


def unpack_state(packed: DataFrame, schema_ddl: str) -> DataFrame:
    """Inverse of :func:`pack_state`: (id, <state columns>) back under
    the original schema (recorded in the iteration's meta row)."""
    from pyspark.sql import functions as F

    return packed.select(
        "id", F.from_json("state_json", schema_ddl).alias("s")
    ).select("id", "s.*")


class IcebergCheckpointStore:
    """CheckpointStore twin over real Iceberg tables — the cluster path
    the module docstring names. Same interface; differences:

    - state/lineage/meta are three Iceberg tables (ICEBERG_STATE_DDL /
      ICEBERG_LINEAGE_DDL / the meta DDL below) instead of directories;
    - there is NO commit marker: an Iceberg snapshot commit is already
      atomic, so the meta row (written AFTER the state append, in its
      own commit) is the completion record and ``latest_complete`` is a
      MAX(iteration) over meta rows;
    - re-running an iteration is idempotent via a DELETE of the
      (run_id, algorithm, iteration) slice before the append (Iceberg
      DELETEs are metadata/positional, not file rewrites).

    Constructing this class requires the iceberg-spark-runtime jar and a
    configured catalog (``iceberg_available``); the sandbox has neither,
    so the class is exercised by a skip-marked pytest that runs the day
    a jar appears, while pack/unpack_state (the nontrivial logic) are
    plain functions tested without Iceberg."""

    META_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.fog.checkpoint_meta (
  run_id string, algorithm string, iteration int,
  schema_ddl string, meta_json string
) USING iceberg PARTITIONED BY (run_id)"""

    def __init__(self, spark: SparkSession, catalog: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "IcebergCheckpointStore needs a configured Iceberg catalog "
                "and the iceberg-spark-runtime jar (iceberg_available() is "
                "False) — use CheckpointStore's parquet fallback here"
            )
        self.spark = spark
        self.catalog = catalog
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.fog")
        spark.sql(ICEBERG_STATE_DDL.format(catalog=catalog))
        spark.sql(ICEBERG_LINEAGE_DDL.format(catalog=catalog))
        spark.sql(self.META_DDL.format(catalog=catalog))
        self._state_tbl = f"{catalog}.fog.checkpoint_state"
        self._lineage_tbl = f"{catalog}.fog.lineage"
        self._meta_tbl = f"{catalog}.fog.checkpoint_meta"

    def _slice_pred(self, run_id: str, algorithm: str, iteration: int) -> str:
        return (
            f"run_id = '{run_id}' AND algorithm = '{algorithm}' "
            f"AND iteration = {int(iteration)}"
        )

    def write_state(
        self, run_id: str, algorithm: str, iteration: int, state: DataFrame, meta: dict[str, Any]
    ) -> DataFrame:
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in state.schema.fields if f.name != "id"
        )
        pred = self._slice_pred(run_id, algorithm, iteration)
        # idempotent re-write of a half-committed iteration. ORDER
        # MATTERS: the meta row is the commit record, so it must be
        # RETRACTED FIRST — deleting the state slice while an old meta
        # row still existed meant a crash mid-rewrite left the iteration
        # looking committed (latest_complete finds the meta row) while
        # read_state returned an empty/partial frame, and resume would
        # silently restart from wrong state. With meta deleted first, a
        # crash anywhere before the final append leaves the iteration
        # honestly uncommitted and resume falls back to the previous one.
        self.spark.sql(f"DELETE FROM {self._meta_tbl} WHERE {pred}")
        self.spark.sql(f"DELETE FROM {self._state_tbl} WHERE {pred}")
        pack_state(state, run_id, algorithm, iteration).writeTo(self._state_tbl).append()
        # meta row LAST = the commit record (atomic snapshot)
        self.spark.createDataFrame(
            [(run_id, algorithm, int(iteration), schema_ddl,
              json.dumps({"iteration": iteration, **meta}))],
            "run_id string, algorithm string, iteration int, "
            "schema_ddl string, meta_json string",
        ).writeTo(self._meta_tbl).append()
        return self.read_state(run_id, algorithm, iteration)

    def _meta_row(self, run_id: str, algorithm: str, iteration: int):
        rows = self.spark.sql(
            f"SELECT schema_ddl, meta_json FROM {self._meta_tbl} "
            f"WHERE {self._slice_pred(run_id, algorithm, iteration)}"
        ).collect()
        if not rows:
            raise FileNotFoundError(
                f"no committed iteration {iteration} for {run_id}/{algorithm}"
            )
        return rows[0]

    def read_state(self, run_id: str, algorithm: str, iteration: int) -> DataFrame:
        row = self._meta_row(run_id, algorithm, iteration)
        packed = self.spark.table(self._state_tbl).where(
            self._slice_pred(run_id, algorithm, iteration)
        )
        return unpack_state(packed, row["schema_ddl"])

    def write_meta(
        self, run_id: str, algorithm: str, iteration: int, meta: dict[str, Any]
    ) -> None:
        """Replace an already-committed iteration's meta row, preserving
        its schema_ddl (the engine finalizes history/converged after
        write_state). Delete+append leaves a brief uncommitted window;
        a crash inside it makes resume fall back one iteration —
        conservative, never wrong-state."""
        row = self._meta_row(run_id, algorithm, iteration)  # raises if uncommitted
        pred = self._slice_pred(run_id, algorithm, iteration)
        self.spark.sql(f"DELETE FROM {self._meta_tbl} WHERE {pred}")
        self.spark.createDataFrame(
            [(run_id, algorithm, int(iteration), row["schema_ddl"],
              json.dumps({"iteration": iteration, **meta}))],
            "run_id string, algorithm string, iteration int, "
            "schema_ddl string, meta_json string",
        ).writeTo(self._meta_tbl).append()

    def read_meta(self, run_id: str, algorithm: str, iteration: int) -> dict[str, Any]:
        return json.loads(self._meta_row(run_id, algorithm, iteration)["meta_json"])

    def latest_complete(self, run_id: str, algorithm: str) -> int | None:
        row = self.spark.sql(
            f"SELECT MAX(iteration) AS it FROM {self._meta_tbl} "
            f"WHERE run_id = '{run_id}' AND algorithm = '{algorithm}'"
        ).collect()[0]
        return None if row["it"] is None else int(row["it"])

    def append_lineage(self, rows: list[tuple]) -> None:
        if not rows:
            return
        self.spark.createDataFrame(rows, LINEAGE_SCHEMA).writeTo(
            self._lineage_tbl
        ).append()

    def read_lineage(self) -> DataFrame:
        return self.spark.table(self._lineage_tbl)


def make_checkpoint_store(spark: SparkSession, root: str | None):
    """Factory the engine calls: an IcebergCheckpointStore when a catalog
    is configured AND the runtime jar loads (``root`` then names the
    catalog via 'iceberg://<catalog>'); the parquet+marker store
    otherwise. Zero behavior change where no jar exists."""
    if root is None:
        return None
    if root.startswith("iceberg://"):
        return IcebergCheckpointStore(spark, root[len("iceberg://"):])
    return CheckpointStore(spark, root)
