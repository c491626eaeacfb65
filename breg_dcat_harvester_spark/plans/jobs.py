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

``StagedRun`` is the one stage protocol the harvest, increment and curation
plans share: it reads the run's finished stages once, when the run starts,
and runs or resumes each checkpointed stage against that lookup.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..storage import LocalSnapshotTable, table_for

_RUNS_SCHEMA = (
    "run_id string, stage string, status string, event_at timestamp, "
    "num_triples long, snapshot_id string, exc_info string"
)


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
        row = [
            (
                run_id,
                stage,
                status,
                dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
                num_triples,
                snapshot_id,
                exc_info,
            )
        ]
        df = self.spark.createDataFrame(row, _RUNS_SCHEMA)
        self.table.write(df, mode="append")

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

    A fresh stage goes 'started' record -> build -> snapshot write -> read
    back -> count -> 'finished' record ('failed' on error); a stage this run
    already finished is read back from its snapshot instead.  ``rows`` holds
    every stage's row count (a resumed one from its 'finished' row), and
    ``records`` the ``{stage, rows, seconds}`` of the fresh stages only.
    """

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str):
        self.spark, self.out_dir, self.run_id = spark, out_dir, run_id
        self.runlog = RunLog(spark, os.path.join(out_dir, "runs"))
        self.done = self.runlog.finished(run_id)
        self.rows: dict[str, int] = {}
        self.records: list[dict] = []

    def checkpoint(self, name: str, builder) -> DataFrame:
        """Run stage ``name`` fresh, or read it back if this run finished it."""
        tbl = table_for(os.path.join(self.out_dir, name))
        if name in self.done:
            sid, self.rows[name] = self.done[name]
            return tbl.read(self.spark, sid)
        t0 = time.time()
        self.runlog.record(self.run_id, name, "started")
        try:
            sid = tbl.write(builder(), mode="overwrite")
            out = tbl.read(self.spark, sid)
            n = self.rows[name] = out.count()
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

    def record_partitions(self, stage: str, df: DataFrame) -> None:
        """Write ``df``'s per-partition metrics once per run: whenever this
        run_id has none yet, not merely when some stage ran fresh — a crash
        between the last stage commit and this write is repaired by resume."""
        metrics = MetricsLog(self.spark, os.path.join(self.out_dir, "metrics"))
        if not metrics.has(self.run_id, stage):
            metrics.record_partitions(self.run_id, stage, df)

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
    """Per-partition stage metrics (A9): one row per (run, stage, partition)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LocalSnapshotTable(path)

    def record_partitions(self, run_id: str, stage: str, df: DataFrame) -> None:
        rows = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows_out"))
            .select(
                F.lit(run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                "partition_id",
                F.col("rows_out").cast("long"),
            )
        )
        self.table.write(rows, mode="append")

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
