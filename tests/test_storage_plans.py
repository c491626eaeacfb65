"""Snapshot storage semantics + harvest plan resume equivalence
(SURVEY.md §5.2-5.3: resume-from-checkpoint equivalence, job registries)."""

import os

import pytest
from pyspark.sql import functions as F

from breg_dcat_harvester_spark.plans.harvest import HarvestConfig, run_harvest
from breg_dcat_harvester_spark.plans.jobs import (
    _RUNS_SCHEMA,
    MetricsLog,
    RunLog,
    StagedRun,
    job_json,
    registry_tail,
)
from breg_dcat_harvester_spark.storage import LocalSnapshotTable


def test_snapshot_append_overwrite_rollback(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    s1 = tbl.write(df1, mode="overwrite")
    assert tbl.read(spark).count() == 5
    s2 = tbl.write(spark.range(3).withColumnRenamed("id", "x"), mode="append")
    assert tbl.read(spark).count() == 8
    # snapshot isolation: old snapshot still readable
    assert tbl.read(spark, s1).count() == 5
    tbl.rollback(s1)
    assert tbl.read(spark).count() == 5
    assert tbl.current_snapshot() == s1
    s3 = tbl.write(spark.range(1).withColumnRenamed("id", "x"), mode="overwrite")
    assert tbl.read(spark).count() == 1
    assert {s["id"] for s in tbl.snapshots()} == {s1, s2, s3}


def test_runlog_and_registries(spark, tmp_path):
    log = RunLog(spark, str(tmp_path / "runs"))
    for i in range(3):
        log.record(f"r{i}", "extract", "started")
        log.record(f"r{i}", "extract", "finished", snapshot_id=f"s{i}", num_triples=i)
    log.record("r9", "extract", "failed", exc_info="boom")
    runs = log.read()
    tail = registry_tail(runs, num=2)
    by_status = {
        r.status: r.cnt
        for r in tail.groupBy("status").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_status == {"started": 2, "finished": 2, "failed": 1}
    assert log.finished("r1")["extract"] == ("s1", 1)
    assert log.finished("r9") == {}
    jobs = job_json(runs).collect()
    assert any('"status":"failed"' in r.job for r in jobs)
    assert runs.schema == _RUNS_SCHEMA

    # a run-log row is an in-process Arrow append: no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("runlog-record", "runlog-record")
    try:
        log.record("r10", "extract", "started")
        log.record("r10", "extract", "finished", snapshot_id="s10", num_triples=10)
        log.record("r10", "job", "finished", num_triples=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("runlog-record") == []
    assert log.finished("r10") == {"extract": ("s10", 10), "job": (None, 10)}


def test_runlog_reads_spark_then_arrow_rows(spark, tmp_path):
    """A runs table started by the Spark writer (the earlier format: INT96
    timestamps) and continued by Arrow appends reads back as one table."""
    import datetime as dt
    import json

    log = RunLog(spark, str(tmp_path / "runs"))
    first = dt.datetime(2020, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    log.table.write(
        spark.createDataFrame(
            [("old", "extract", "finished", first, 7, "s-old", None)], _RUNS_SCHEMA
        ),
        mode="append",
    )
    log.record("old", "merge", "started")
    log.record("old", "merge", "failed", exc_info="boom")
    log.record("new", "extract", "finished", snapshot_id="s-new", num_triples=3)

    runs = log.read()
    assert runs.schema == _RUNS_SCHEMA
    assert runs.count() == 4
    assert log.finished("old") == {"extract": ("s-old", 7)}
    assert log.finished("new") == {"extract": ("s-new", 3)}

    tail = {(r.status, r.run_id) for r in registry_tail(runs, num=1).collect()}
    assert tail == {("started", "old"), ("failed", "old"), ("finished", "new")}
    jobs = {
        (j["job_id"], j["stage"]): j
        for j in (json.loads(r.job) for r in job_json(runs).collect())
    }
    assert set(jobs) == {("old", "extract"), ("old", "merge"), ("new", "extract")}
    assert jobs[("old", "extract")]["num_triples"] == 7
    assert jobs[("old", "extract")]["ended_at"] == "2020-01-01T12:00:00.000000"
    assert jobs[("old", "merge")]["status"] == "failed"
    # the Arrow rows carry real UTC instants (the session time zone is UTC)
    ended = dt.datetime.fromisoformat(jobs[("new", "extract")]["ended_at"])
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    assert abs(now - ended) < dt.timedelta(minutes=10)


def _count_runs_reads(monkeypatch) -> list:
    """Record every LocalSnapshotTable.read of a runs table."""
    reads = []
    real_read = LocalSnapshotTable.read

    def read(self, *args, **kwargs):
        if os.path.basename(self.path) == "runs":
            reads.append(self.path)
        return real_read(self, *args, **kwargs)

    monkeypatch.setattr(LocalSnapshotTable, "read", read)
    return reads


@pytest.mark.slow
def test_harvest_run_and_resume(spark, tmp_path, small_transcripts, monkeypatch):
    src = str(tmp_path / "transcripts")
    small_transcripts.write.parquet(src)
    runs_reads = _count_runs_reads(monkeypatch)

    cfg = HarvestConfig(out_dir=str(tmp_path / "out"), extract_impl="sql")
    res1 = run_harvest(spark, src, cfg, run_id="run-a")
    # a fresh output dir has no runs table to look up prior stages in
    assert runs_reads == []
    assert res1["num_triples"] > 0
    assert [s["stage"] for s in res1["stages"]] == [
        "edges_raw", "triples", "valid_triples", "links", "cc_labels",
        "edges", "nodes", "lineage",
    ]
    # every fresh stage's row count, taken from its snapshot's parquet
    # footers, equals a Spark count of that snapshot
    runlog = RunLog(spark, os.path.join(cfg.out_dir, "runs"))
    sids = runlog.finished("run-a")
    for st in res1["stages"]:
        tbl = LocalSnapshotTable(os.path.join(cfg.out_dir, st["stage"]))
        sid, rows = sids[st["stage"]]
        assert st["rows"] == rows == tbl.read(spark, sid).count(), st["stage"]

    # link+CC must run exactly ONCE per run: both edges and nodes consume
    # the checkpointed cc_labels snapshot (VERDICT r1 §wrong-1 regression)
    cc_rows = (
        runlog.read()
        .filter((F.col("run_id") == "run-a") & (F.col("stage") == "cc_labels"))
        .collect()
    )
    assert [r.status for r in cc_rows].count("finished") == 1

    # resume: same run_id -> every stage skipped (no new stage metrics),
    # identical result; the finished stages are read once, not per stage
    runs_reads.clear()
    res2 = run_harvest(spark, src, cfg, run_id="run-a")
    assert len(runs_reads) <= 1
    assert res2["num_triples"] == res1["num_triples"]
    assert res2["stages"] == []  # all stages resumed from snapshots
    # resumed row counts come from the finished stages' runs rows
    assert res2["num_nodes"] == res1["num_nodes"]
    assert res2["num_lineage_buckets"] == res1["num_lineage_buckets"]

    # fresh run id recomputes but matches (determinism)
    res3 = run_harvest(spark, src, cfg, run_id="run-b")
    assert res3["num_triples"] == res1["num_triples"]

    # stable turn ordering invariant (W5): edges sorted within partitions
    edges = LocalSnapshotTable(os.path.join(cfg.out_dir, "edges")).read(spark)
    assert edges.count() >= res1["num_triples"]

    # content-keyed lineage is the cross-run consistency probe: the fresh
    # run-b must reproduce run-a's bucket rollup BIT-FOR-BIT, and the
    # resumed run reads it back unchanged
    assert res1["num_lineage_buckets"] == res3["num_lineage_buckets"]
    lineage_a = LocalSnapshotTable(os.path.join(cfg.out_dir, "lineage")).read(spark)
    rows = {tuple(r) for r in lineage_a.collect()}
    from breg_dcat_harvester_spark.operators.export import partition_lineage

    recomputed = {tuple(r) for r in partition_lineage(edges.repartition(7)).collect()}
    assert rows == recomputed

    # an empty stage output counts 0 rows from its footers
    empty = StagedRun(spark, cfg.out_dir, "run-empty")
    out = empty.checkpoint("empty", lambda: spark.createDataFrame([], "x long"))
    assert empty.rows["empty"] == 0 == out.count()
    assert empty.records[0]["rows"] == 0


@pytest.mark.slow
def test_harvest_resume_repairs_lost_partition_metrics(
    spark, tmp_path, small_transcripts, monkeypatch
):
    """A crash after the nodes commit and before the partition metrics are
    written must not lose them: the resume writes exactly one set."""
    src = str(tmp_path / "transcripts")
    small_transcripts.write.parquet(src)
    cfg = HarvestConfig(out_dir=str(tmp_path / "out"), extract_impl="sql")

    real_record = MetricsLog.record_partitions
    crashes = []

    def crash_once(self, *args, **kwargs):
        if not crashes:
            crashes.append(args)
            raise RuntimeError("crash before partition metrics")
        return real_record(self, *args, **kwargs)

    monkeypatch.setattr(MetricsLog, "record_partitions", crash_once)
    with pytest.raises(RuntimeError, match="crash before partition metrics"):
        run_harvest(spark, src, cfg, run_id="r")

    res = run_harvest(spark, src, cfg, run_id="r")
    assert [s["stage"] for s in res["stages"]] == ["lineage"]

    parts = (
        MetricsLog(spark, os.path.join(cfg.out_dir, "metrics"))
        .read()
        .filter((F.col("run_id") == "r") & (F.col("stage") == "edges"))
        .collect()
    )
    edges = LocalSnapshotTable(os.path.join(cfg.out_dir, "edges")).read(spark)
    assert parts
    assert len({p.partition_id for p in parts}) == len(parts)
    assert sum(p.rows_out for p in parts) == edges.count()


def test_iceberg_branch_selected_and_writer_calls(spark):
    """Plan-level coverage of the Iceberg-native backend (no runtime jar in
    this sandbox, so the DataFrameWriterV2 is stubbed at the seam): the
    'iceberg:' uri must route to IcebergTable, write(mode=...) must drive the
    append vs createOrReplace branch, and read(snapshot_id=...) must set the
    snapshot-id option before .table()."""
    import breg_dcat_harvester_spark.storage as st

    t = st.table_for("iceberg:cat.db.tbl")
    assert isinstance(t, st.IcebergTable)
    assert t.identifier == "cat.db.tbl"
    assert isinstance(st.table_for("/tmp/x"), st.LocalSnapshotTable)

    calls = []

    class FakeWriter:
        def append(self):
            calls.append("append")

        def createOrReplace(self):
            calls.append("createOrReplace")

    class FakeSession:
        def sql(self, q):
            calls.append(("sql", q))

            class _R:
                @staticmethod
                def head():
                    return ["snap-1"]

            return _R()

    class FakeDF:
        sparkSession = FakeSession()

        def writeTo(self, identifier):
            calls.append(("writeTo", identifier))
            return FakeWriter()

    assert t.write(FakeDF(), mode="append") == "snap-1"
    assert calls[0] == ("writeTo", "cat.db.tbl")
    assert calls[1] == "append"
    assert calls[2][0] == "sql" and "cat.db.tbl.snapshots" in calls[2][1]

    calls.clear()
    t.write(FakeDF(), mode="overwrite")
    assert calls[1] == "createOrReplace"

    reads = []

    class FakeReader:
        def option(self, k, v):
            reads.append(("option", k, v))
            return self

        def table(self, identifier):
            reads.append(("table", identifier))
            return "DF"

    class FakeReadSession:
        read = FakeReader()

    assert t.read(FakeReadSession(), snapshot_id="123") == "DF"
    assert reads == [("option", "snapshot-id", "123"), ("table", "cat.db.tbl")]
    reads.clear()
    assert t.read(FakeReadSession()) == "DF"
    assert reads == [("table", "cat.db.tbl")]

    # this backend has no footers to sum: num_rows counts the snapshot's scan
    class FakeScan:
        def count(self):
            return 3

    FakeReader.table = lambda self, identifier: FakeScan()
    reads.clear()
    assert t.num_rows(FakeReadSession(), "123") == 3
    assert reads == [("option", "snapshot-id", "123")]


@pytest.mark.slow
def test_harvest_fused_extract_merge_equivalent(spark, tmp_path, small_transcripts):
    """fuse_extract_merge=True skips the edges_raw checkpoint (the raw edge
    set is never materialized) and produces the identical final graph."""
    src = str(tmp_path / "transcripts")
    small_transcripts.write.parquet(src)

    plain = run_harvest(
        spark,
        src,
        HarvestConfig(out_dir=str(tmp_path / "out_plain")),
        run_id="run-p",
    )
    fused = run_harvest(
        spark,
        src,
        HarvestConfig(out_dir=str(tmp_path / "out_fused"), fuse_extract_merge=True),
        run_id="run-f",
    )
    assert fused["num_triples"] == plain["num_triples"]
    stages_f = [s["stage"] for s in fused["stages"]]
    assert "edges_raw" not in stages_f and stages_f[0] == "triples"
    a = spark.read.parquet(str(tmp_path / "out_plain" / "edges" / "data"))
    b = spark.read.parquet(str(tmp_path / "out_fused" / "edges" / "data"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_harvest_increment_equals_batch(spark, tmp_path, small_transcripts):
    """harvest_increment over a conversation shard == run_harvest over the
    combined corpus: identical triple/valid/canonical-edge TERM sets,
    identical nodes table, identical num_triples — while every discovery
    stage of the incremental run is shard-scoped (its runlog rows prove it
    ran inc_triples/delta_triples/touched_slice, not edges_raw)."""
    from breg_dcat_harvester_spark.plans.harvest import harvest_increment

    is_inc = F.substring(F.sha2(F.col("conv_id"), 256), 64, 1).isin(
        "0", "1", "2", "3"
    )
    base_src = str(tmp_path / "t_base")
    inc_src = str(tmp_path / "t_inc")
    all_src = str(tmp_path / "t_all")
    small_transcripts.filter(~is_inc).write.parquet(base_src)
    small_transcripts.filter(is_inc).write.parquet(inc_src)
    small_transcripts.write.parquet(all_src)

    cfg_base = HarvestConfig(out_dir=str(tmp_path / "out_base"), extract_impl="sql")
    run_harvest(spark, base_src, cfg_base, run_id="base")

    cfg_inc = HarvestConfig(out_dir=str(tmp_path / "out_inc"), extract_impl="sql")
    res_inc = harvest_increment(
        spark, cfg_base.out_dir, inc_src, cfg_inc, run_id="inc"
    )
    assert [s["stage"] for s in res_inc["stages"]] == [
        "inc_triples", "delta_triples", "touched_slice", "triples",
        "valid_triples", "links", "cc_labels", "edges", "nodes", "lineage",
    ]

    cfg_all = HarvestConfig(out_dir=str(tmp_path / "out_all"), extract_impl="sql")
    res_all = run_harvest(spark, all_src, cfg_all, run_id="all")

    assert res_inc["num_triples"] == res_all["num_triples"]
    assert res_inc["num_nodes"] == res_all["num_nodes"]

    term_cols = ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]

    def read_stage(out_dir, name):
        return spark.read.parquet(str(tmp_path / out_dir / name / "data"))

    def terms(out_dir, name):
        df = read_stage(out_dir, name)
        return {tuple(r) for r in df.select(*term_cols).collect()}

    for stage_name in ("triples", "valid_triples", "edges"):
        assert terms("out_inc", stage_name) == terms("out_all", stage_name), stage_name
        # row-for-row too, not just as sets: a NULL-blind delta anti-join
        # would re-admit duplicate terms with shard lineage (caught here)
        assert (
            read_stage("out_inc", stage_name).count()
            == read_stage("out_all", stage_name).count()
        ), stage_name

    def nodes(out_dir):
        df = spark.read.parquet(str(tmp_path / out_dir / "nodes" / "data"))
        return {tuple(r) for r in df.collect()}

    assert nodes("out_inc") == nodes("out_all")

    # increment resumability: same run_id -> all stages read back
    res_again = harvest_increment(
        spark, cfg_base.out_dir, inc_src, cfg_inc, run_id="inc"
    )
    assert res_again["stages"] == []
    assert res_again["num_triples"] == res_inc["num_triples"]


def test_compact_merges_small_files(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "c"))
    # simulate streaming accretion: 6 append commits of tiny files, each
    # written 4-way -> ~24 small files
    for i in range(6):
        tbl.write(
            spark.range(i * 100, (i + 1) * 100).repartition(4)
            .withColumnRenamed("id", "x"),
            mode="append",
        )
    before = tbl.read(spark)
    before_rows = sorted(r.x for r in before.collect())
    pre_snap = tbl.current_snapshot()
    n_files_before = len([s for s in tbl.snapshots() if s["id"] == pre_snap][0]["files"])
    assert n_files_before >= 20

    stats = tbl.compact(spark, target_bytes=1 << 30)  # everything -> 1 file
    assert stats["snapshot"] is not None
    assert stats["files_after"] == 1
    # content identical, old snapshot still time-travelable
    after_rows = sorted(r.x for r in tbl.read(spark).collect())
    assert after_rows == before_rows
    assert tbl.read(spark, pre_snap).count() == 600

    # idempotent: a second compact is a no-op (no new snapshot)
    stats2 = tbl.compact(spark, target_bytes=1 << 30)
    assert stats2["snapshot"] is None
    assert stats2["files_before"] == 1

    # expire reclaims the small files
    tbl.expire_snapshots(keep_n=1)
    remaining = os.listdir(tbl.data_dir)
    assert len(remaining) == 1


@pytest.mark.slow
def test_run_curation_and_resume(spark, tmp_path):
    from breg_dcat_harvester_spark.plans.corpus import CurationConfig, run_curation

    src = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet").write.parquet(src)

    cfg = CurationConfig(
        out_dir=str(tmp_path / "out"),
        rates={lang: 1000 for lang in ("en", "es", "de", "fr", "zh")},
    )
    res1 = run_curation(spark, src, cfg, run_id="cur-a")
    assert res1["num_input_docs"] == 500
    assert 0 < res1["num_selected"] <= 500
    assert res1["num_shards"] > 0 and res1["num_packs"] > 0
    assert [s["stage"] for s in res1["stages"]] == [
        "decisions", "selected", "packing", "pack_segments", "shards",
        "shard_stats",
    ]

    # resume: same run_id -> every stage read back, nothing recomputed
    res2 = run_curation(spark, src, cfg, run_id="cur-a")
    assert res2["stages"] == []
    assert res2["num_selected"] == res1["num_selected"]
    assert res2["num_packs"] == res1["num_packs"]

    # a fresh run_id writes NEW snapshots and reproduces the same content
    res3 = run_curation(spark, src, cfg, run_id="cur-b")
    assert res3["num_selected"] == res1["num_selected"]
    from breg_dcat_harvester_spark.storage import LocalSnapshotTable

    shards = LocalSnapshotTable(os.path.join(cfg.out_dir, "shards"))
    snaps = shards.snapshots()
    assert len(snaps) == 2  # one per run
    a = sorted(map(tuple, shards.read(spark, snaps[0]["id"]).collect()))
    b = sorted(map(tuple, shards.read(spark, snaps[1]["id"]).collect()))
    assert a == b  # deterministic re-execution, bit-for-bit


def test_snapshot_schema_evolution_merge(spark, tmp_path):
    # Iceberg add-column semantics: an append may carry a new column; the
    # merged read surfaces it with NULLs for pre-evolution rows, while the
    # default read keeps serving the original schema untouched
    tbl = LocalSnapshotTable(str(tmp_path / "ev"))
    s1 = tbl.write(
        spark.range(3).selectExpr("id AS x"), mode="overwrite"
    )
    tbl.write(
        spark.range(3, 5).selectExpr("id AS x", "id * 10 AS y"),
        mode="append",
    )
    merged = tbl.read(spark, merge_schema=True)
    assert sorted(merged.columns) == ["x", "y"]
    rows = {r.x: r.y for r in merged.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40}
    # time travel to the pre-evolution snapshot: no y column at all
    assert tbl.read(spark, s1, merge_schema=True).columns == ["x"]


# --- IcebergTable call-chain (no Iceberg jar in the sandbox: the backend is
# exercised at the API boundary with stubs, so the cluster path is at least
# call-shape-tested instead of shipping as dead code) -------------------------


class _StubWriter:
    def __init__(self, log):
        self.log = log

    def append(self):
        self.log.append("append")

    def createOrReplace(self):
        self.log.append("createOrReplace")


class _StubRow:
    def __init__(self, v):
        self.v = v

    def __getitem__(self, i):
        return self.v


class _StubSql:
    def __init__(self, row):
        self._row = row
        self.queries = []

    def sql(self, q):
        self.queries.append(q)
        outer = self

        class _R:
            def head(self):
                return outer._row

        return _R()


class _StubDf:
    def __init__(self, log, session):
        self.log = log
        self.sparkSession = session

    def writeTo(self, identifier):
        self.log.append(f"writeTo:{identifier}")
        return _StubWriter(self.log)


def test_iceberg_table_write_modes_and_snapshot_probe():
    from breg_dcat_harvester_spark.storage import IcebergTable, table_for

    t = table_for("iceberg:cat.db.edges")
    assert isinstance(t, IcebergTable) and t.identifier == "cat.db.edges"

    log = []
    sess = _StubSql(_StubRow(4242))
    df = _StubDf(log, sess)
    snap = t.write(df, mode="append")
    assert log == ["writeTo:cat.db.edges", "append"]
    assert snap == "4242"
    # snapshot probe reads the catalog's snapshot log, newest first
    assert "cat.db.edges.snapshots" in sess.queries[0]
    assert "ORDER BY committed_at DESC" in sess.queries[0]

    log.clear()
    t.write(df, mode="overwrite")
    assert log == ["writeTo:cat.db.edges", "createOrReplace"]

    # empty snapshot log -> write reports empty id, not a crash
    df2 = _StubDf([], _StubSql(None))
    assert t.write(df2, mode="append") == ""


def test_value_violations_constraint_kinds(spark):
    from breg_dcat_harvester_spark.operators.validate import (
        ValueShape,
        value_violations,
    )
    from breg_dcat_harvester_spark.schema import RDF_TYPE, TRIPLE_STRUCT

    rows = [
        ("urn:d1", RDF_TYPE, "urn:Dataset", "uri", None, None),
        # pattern violation
        ("urn:d1", "urn:id", "BAD-1", "literal", None, None),
        # nodeKind violation (literal where IRI required)
        ("urn:d1", "urn:theme", "not-a-uri", "literal", None, None),
        # datatype: plain literal where langString required
        ("urn:d1", "urn:title", "plain", "literal", None, None),
        # conforming values
        ("urn:d1", "urn:title", "tagged", "literal", "en", None),
        ("urn:d1", "urn:theme", "urn:t", "uri", None, None),
        # untyped subject: never checked
        ("urn:x", "urn:id", "BAD-2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, TRIPLE_STRUCT)
    shapes = [
        ValueShape("urn:Dataset", "urn:id", pattern="^ID-[0-9]+$"),
        ValueShape("urn:Dataset", "urn:theme", node_kind="IRI"),
        ValueShape(
            "urn:Dataset", "urn:title",
            datatype="http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
            severity="Warning",
        ),
    ]
    got = {
        (r.subj, r.path, r.value, r.check_kind, r.severity)
        for r in value_violations(g, shapes).collect()
    }
    assert got == {
        ("urn:d1", "urn:id", "BAD-1", "pattern", "Violation"),
        ("urn:d1", "urn:theme", "not-a-uri", "nodeKind", "Violation"),
        ("urn:d1", "urn:title", "plain", "datatype", "Warning"),
    }
