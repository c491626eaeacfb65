"""Job control plane — runs registry + metrics (SURVEY.md §2.1 S12, §2.4 A7,
§2.5 W2/W3).

The reference tracks jobs in RQ/Redis registries partitioned by status
(finished/failed/scheduled/started, harvest.py:158-193) with job dicts
{job_id, status, enqueued_at, started_at, ended_at, description, result,
exc_info} (utils.py:32-48) and tail-N listing per registry
(``get_job_ids(start=-num)``, harvest.py:146-155).

Ours is a runs *table*: one row per (run_id, stage, status transition),
appended via snapshot commits.  Registry listing = groupBy(status) +
row_number window (W2); job JSON = the latest row per (run_id, stage).

The control plane runs in the Python process: a run-log row and a stage's
partition metrics are small pyarrow Tables appended through the same
manifest commit as every Spark-written snapshot, and a stage's row count is
the sum of its committed files' parquet footers.  None of them launches a
Spark job; the stage outputs are the only Spark writes of a run.

``StagedRun`` is the one stage protocol the harvest, increment and curation
plans share: it reads the run's finished stages once, when the run starts,
and runs or resumes each checkpointed stage against that lookup.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..storage import LocalSnapshotTable, table_for

_RUNS_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("stage", StringType()),
    StructField("status", StringType()),
    StructField("event_at", TimestampType()),
    StructField("num_triples", LongType()),
    StructField("snapshot_id", StringType()),
    StructField("exc_info", StringType()),
])
# the same row as Arrow types; a tz-aware timestamp is what Spark reads back
# as ``timestamp`` (a naive one would read as ``timestamp_ntz``)
_RUNS_ARROW = pa.schema([
    ("run_id", pa.string()),
    ("stage", pa.string()),
    ("status", pa.string()),
    ("event_at", pa.timestamp("us", tz="UTC")),
    ("num_triples", pa.int64()),
    ("snapshot_id", pa.string()),
    ("exc_info", pa.string()),
])
_METRICS_ARROW = pa.schema([
    ("run_id", pa.string()),
    ("stage", pa.string()),
    ("partition_id", pa.int32()),
    ("rows_out", pa.int64()),
])
# the write task's number in a Spark part file name (part-00003-<uuid>...)
_PART_RE = re.compile(r"part-(\d+)")


class RunLog:
    """Append-only runs table with snapshot-checkpoint lookups."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LocalSnapshotTable(path)

    def record(
        self,
        run_id: str,
        stage: str,
        status: str,
        snapshot_id: str | None = None,
        num_triples: int | None = None,
        exc_info: str | None = None,
    ) -> None:
        row = {
            "run_id": run_id,
            "stage": stage,
            "status": status,
            "event_at": dt.datetime.now(dt.timezone.utc),
            "num_triples": num_triples,
            "snapshot_id": snapshot_id,
            "exc_info": exc_info,
        }
        self.table.write(
            pa.Table.from_pylist([row], schema=_RUNS_ARROW), mode="append"
        )

    def read(self) -> DataFrame:
        if not self.table.exists():
            return self.spark.createDataFrame([], _RUNS_SCHEMA)
        return self.table.read(self.spark)

    def finished(self, run_id: str) -> dict[str, tuple[str, int]]:
        """Resume lookup: ``{stage: (snapshot_id, rows)}`` of this run's
        finished stages (the latest wins).  One read of the runs table, and
        none while the table does not exist yet."""
        if not self.table.exists():
            return {}
        rows = (
            self.read()
            .filter((F.col("run_id") == run_id) & (F.col("status") == "finished"))
            .orderBy("event_at")
            .collect()
        )
        return {r.stage: (r.snapshot_id, r.num_triples) for r in rows}


class StagedRun:
    """Execute (or resume) one run as a sequence of checkpointed stages.

    A fresh stage goes 'started' record -> build -> snapshot write -> row
    count from the snapshot's footers -> read back -> 'finished' record
    ('failed' on error); a stage this run already finished is read back from
    its snapshot instead.  ``rows`` holds every stage's row count (a resumed
    one from its 'finished' row), ``snapshots`` every stage's snapshot id,
    and ``records`` the ``{stage, rows, seconds}`` of the fresh stages only.
    """

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str):
        self.spark, self.out_dir, self.run_id = spark, out_dir, run_id
        self.runlog = RunLog(spark, os.path.join(out_dir, "runs"))
        self.done = self.runlog.finished(run_id)
        self.rows: dict[str, int] = {}
        self.snapshots: dict[str, str] = {}
        self.records: list[dict] = []

    def _table(self, name: str):
        return table_for(os.path.join(self.out_dir, name))

    def checkpoint(self, name: str, builder) -> DataFrame:
        """Run stage ``name`` fresh, or read it back if this run finished it."""
        tbl = self._table(name)
        if name in self.done:
            sid, self.rows[name] = self.done[name]
            self.snapshots[name] = sid
            return tbl.read(self.spark, sid)
        t0 = time.time()
        self.runlog.record(self.run_id, name, "started")
        try:
            sid = self.snapshots[name] = tbl.write(builder(), mode="overwrite")
            n = self.rows[name] = tbl.num_rows(self.spark, sid)
            out = tbl.read(self.spark, sid)
            self.records.append(
                {"stage": name, "rows": n, "seconds": round(time.time() - t0, 3)}
            )
            self.runlog.record(
                self.run_id, name, "finished", snapshot_id=sid, num_triples=n
            )
            return out
        except Exception as ex:
            self.runlog.record(self.run_id, name, "failed", exc_info=repr(ex))
            raise

    def record_partitions(self, stage: str) -> None:
        """Write the per-partition metrics of checkpointed ``stage`` once per
        run: whenever this run_id has none yet, not merely when some stage
        ran fresh — a crash between the last stage commit and this write is
        repaired by resume."""
        metrics = MetricsLog(self.spark, os.path.join(self.out_dir, "metrics"))
        if not metrics.has(self.run_id, stage):
            files = self._table(stage).file_rows(self.snapshots[stage])
            metrics.record_partitions(self.run_id, stage, files)

    def finish(self, job_rows: int, **result) -> dict:
        """Record the run's 'job' row; returns the job-result dict."""
        self.runlog.record(self.run_id, "job", "finished", num_triples=job_rows)
        return {"run_id": self.run_id, **result, "stages": self.records}


def next_fire_date(
    base: dt.datetime, interval_seconds: int, now: dt.datetime
) -> dt.datetime:
    """F6 parity — scheduler.py:159-169: the next interval boundary after
    ``now``, computed by ceiling-division from the trigger's base date."""
    if now <= base:
        return base
    import math

    elapsed = (now - base).total_seconds()
    periods = math.ceil(elapsed / interval_seconds)
    return base + dt.timedelta(seconds=periods * interval_seconds)


class MetricsLog:
    """Per-partition stage metrics (A9): one row per (run, stage, partition)
    of the stage's written layout — a partition is one committed data file,
    numbered by the Spark write task that produced it."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LocalSnapshotTable(path)

    def record_partitions(
        self, run_id: str, stage: str, files: list[tuple[str, int]]
    ) -> None:
        """Append one row per ``(file name, rows)`` of a stage's snapshot."""
        rows = [
            {
                "run_id": run_id,
                "stage": stage,
                "partition_id": int(_PART_RE.search(f).group(1)),
                "rows_out": n,
            }
            for f, n in files
        ]
        self.table.write(
            pa.Table.from_pylist(rows, schema=_METRICS_ARROW), mode="append"
        )

    def has(self, run_id: str, stage: str) -> bool:
        return self.table.exists() and (
            self.read()
            .filter((F.col("run_id") == run_id) & (F.col("stage") == stage))
            .limit(1)
            .count()
            > 0
        )

    def read(self) -> DataFrame:
        return self.table.read(self.spark)


def registry_tail(runs: DataFrame, num: int = 10) -> DataFrame:
    """A7/W2: last ``num`` runs per status registry, newest first — the
    GET /api/harvest/source/jobs semantics (harvest.py:146-193)."""
    w = Window.partitionBy("status").orderBy(F.desc("event_at"), F.desc("run_id"))
    return (
        runs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= num)
        .drop("rn")
    )


def job_json(runs: DataFrame) -> DataFrame:
    """utils.py:32-48 shape: latest status per (run_id, stage) with ISO
    datetimes, as a JSON string column."""
    w = Window.partitionBy("run_id", "stage").orderBy(F.desc("event_at"))
    latest = runs.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    return latest.select(
        F.to_json(
            F.struct(
                F.col("run_id").alias("job_id"),
                "stage",
                "status",
                F.date_format("event_at", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "ended_at"
                ),
                "num_triples",
                "exc_info",
            )
        ).alias("job")
    )
