"""Iceberg-backed sink: the MERGE half of the built-in lake's contract.

SURVEY.md §7.3.3 keeps the table format behind a small interface so the
engine can target real Apache Iceberg when its runtime jar is on the
classpath. This sandbox has no Iceberg jar (no network), so construction
raises unless the catalog is actually configured — the built-in
merge-on-read lake (lake.py) implements the same contract (append
deltas, LWW resolution, atomic commits, idempotent batch ids) in pure
Spark + parquet and is what tests and benches run against.

Exactly-once design (mirrors lake.py, adapted to Iceberg's commit
model, where a MERGE and a property write are separate snapshots and
therefore cannot be made atomic together from SQL):

* **Tombstones are rows, not DELETEs.** The table keeps a ``deleted``
  flag plus the binlog ``seq``; the MERGE updates a key only WHEN the
  incoming ``seq`` is higher and inserts unmatched rows (including
  tombstones). ``read()`` filters tombstones out. This makes every
  batch MERGE *idempotent and order-safe by construction*: re-delivery
  finds equal seqs and changes nothing, and a late lower-seq upsert can
  never resurrect a key deleted at a higher seq (the failure mode of a
  naive WHEN MATCHED ... DELETE, which forgets the seq fence).
* **Batch-id ledger is an optimization, not a correctness hinge.** A
  separate append-only ``<table>_commits`` ledger records applied batch
  ids so re-delivered batches can be skipped without re-running the
  MERGE. A crash between MERGE and ledger-append merely re-runs an
  idempotent MERGE on re-delivery; a duplicate ledger row is harmless
  (``committed_batch_ids`` returns a set). Nothing requires the two
  commits to be atomic.

Tombstone retention matches lake.py (kept through compaction); an
Iceberg deployment would age them out with a DELETE WHERE older than
the maximum source re-delivery horizon.

Interface shared with ``lake.LakeTable``:
    committed_batch_ids() / read() / append_delta(delta, batch_id, stats_fn)

That is the whole shared surface. ``merge.apply_batch`` (and so
``IngestStream``) also reads the built-in lake's bucket layout —
``num_buckets``, ``current_commit``, ``read_files``, ``_files_for`` —
which this class does not have, so it cannot stand in for a
``LakeTable`` there: callers pass it already-reduced delta rows
(TABLE_SCHEMA + ``seq`` + ``deleted``) directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .lake import resolve_state
from .schema import KEY_COLS


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def merge_into_sql(table: str, delta_view: str = "__cdc_delta") -> str:
    """The seq-fenced MERGE text, exposed so the contract is unit-pinned
    without an Iceberg runtime. WHEN MATCHED fires only for a strictly
    higher incoming seq — equal (re-delivered) or lower (late) seqs
    change nothing; tombstones insert/update as flagged rows."""
    on = " AND ".join(f"t.{c} = s.{c}" for c in KEY_COLS)
    return (
        f"MERGE INTO {table} t\n"
        f"USING {delta_view} s ON {on}\n"
        "WHEN MATCHED AND s.seq > t.seq THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def ledger_insert_sql(ledger: str) -> str:
    """Parameterized ledger append (``:batch_id`` placeholder — batch
    ids are data-driven strings and must never be interpolated into the
    SQL text; the ledger NAME comes from trusted constructor config)."""
    return f"INSERT INTO {ledger} VALUES (:batch_id, current_timestamp())"


class IcebergLakeTable:
    """The append/read/ledger subset of lake.LakeTable's contract, on an
    Iceberg catalog table (see the module docstring for what it lacks)."""

    def __init__(self, spark: SparkSession, table: str) -> None:
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath; use cdc.lake.LakeTable "
                "(the built-in merge-on-read format with identical semantics)"
            )
        self.spark = spark
        self.table = table
        self.ledger = f"{table}_commits"
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ledger} (batch_id STRING, ts TIMESTAMP) USING iceberg"
        )

    def committed_batch_ids(self) -> set[str]:
        rows = self.spark.sql(f"SELECT batch_id FROM {self.ledger}").collect()
        return {r["batch_id"] for r in rows}

    def read(self) -> DataFrame:
        return self.spark.read.table(self.table).where("NOT deleted")

    def append_delta(self, delta_rows: DataFrame, batch_id: str, stats_fn=None) -> dict:
        """Seq-fenced MERGE INTO keyed on (repo, path). Idempotent:
        equal or lower seqs never match, tombstones persist as flagged
        rows, so replaying this batch (crash between the MERGE and the
        ledger append) is a no-op.

        The delta is pre-reduced to ONE row per key (max seq) before the
        MERGE: Iceberg's MERGE aborts on multiple source matches, and a
        batch spanning several changes to one key would otherwise only
        be safe when driven through apply_batch's LWW — making the
        precondition explicit here keeps the seam safe when called
        directly.

        ``stats_fn`` is called as in ``LakeTable.append_delta`` after
        the MERGE, with no per-bucket row counts: Iceberg owns its file
        layout."""
        reduced = resolve_state(delta_rows, drop_tombstones=False)
        reduced.createOrReplaceTempView("__cdc_delta")
        self.spark.sql(merge_into_sql(self.table))
        self.spark.sql(ledger_insert_sql(self.ledger), args={"batch_id": str(batch_id)})
        stats = stats_fn({}) if stats_fn is not None else {}
        return {"batch_id": str(batch_id), "table": self.table, "stats": stats}
