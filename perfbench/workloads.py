"""The benchmark's workloads.  Each takes a ``run.Run``, prepares its inputs
from the run's seed (several times, for a median set-up time), runs whole
operations until ``--seconds`` have passed, and checks every output outside
the timed spans.  Per-layer numbers are derived from the spans and stage
records only in a traced run.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time

from breg_dcat_harvester_spark.datagen import gen_transcripts, write_transcripts_parquet
from breg_dcat_harvester_spark.operators import facets, labels, search
from breg_dcat_harvester_spark.operators import link as lnk
from breg_dcat_harvester_spark.operators.extract import extract_edges
from breg_dcat_harvester_spark.operators.merge import merge_triples
from breg_dcat_harvester_spark.plans import harvest as hv
from breg_dcat_harvester_spark.plans import sparql, sparql_update
from breg_dcat_harvester_spark.plans.harvest import HarvestConfig, run_harvest
from breg_dcat_harvester_spark.storage import LocalSnapshotTable, count_exchanges

from probes import percentile_tail

# Corpus sizes.  A harvest costs about the same from 2k to 200k turns on
# 4 cores (its time is per-stage job overhead), so the sizes are what keeps a
# run inside the time budget, not what sets the harvest time.
HARVEST_TURNS = 20_000
BROWSE_TURNS = 20_000
PREPARE_REPEATS = 3

LAYER_UNITS = {
    "session.start_s": "s",
    "datagen.s": "s",
    "harvest.turns_per_s": "turns/s",
    "extract.s": "s",
    "extract.edges_per_turn": "ratio",
    "merge.s": "s",
    "merge.keep_ratio": "ratio",
    "validate.s": "s",
    "validate.quarantined": "count",
    "link.s": "s",
    "link.candidates": "count",
    "link.pairs": "count",
    "link.hit_ratio": "ratio",
    "cc.s": "s",
    "cc.nodes": "count",
    "materialize.s": "s",
    "harvest.overhead_s": "s",
    "inc.delta_s": "s",
    "inc.validate_s": "s",
    "inc.link_s": "s",
    "inc.cc_s": "s",
    "inc.materialize_s": "s",
    "inc.touched_ratio": "ratio",
    "storage.write_s": "s",
    "storage.read_s": "s",
    "storage.bytes_written": "bytes",
    "storage.bytes_per_triple": "bytes",
    "storage.snapshots": "count",
    "facets.ms": "ms",
    "search.ms": "ms",
    "search.exchanges": "count",
    "labels.ms": "ms",
    "sparql.parse_ms": "ms",
    "sparql.exec_ms": "ms",
    "sparql.exchanges": "count",
    "sparql_update.ms": "ms",
    "read.p50_ms": "ms",
    "read.tail_ms": "ms",
    "read.tail_pct": "%",
    "read.samples": "count",
    "write.tail_ms": "ms",
    "write.tail_pct": "%",
    "write.samples": "count",
    "spark.jobs_per_op": "count",
    "spark.cached_mb": "MB",
    "trace.op_mean_ms": "ms",
    "trace.bookkeeping_ms": "ms",
}


def _median_ms(spans: list[dict]) -> float:
    if not spans:
        return 0.0
    return statistics.median((s["end"] - s["start"]) * 1000 for s in spans)


def _gen_corpus(run, turns: int, dest: str):
    """Generate the seeded corpus as parquet; returns (pandas frame, path)."""
    t0 = time.perf_counter()
    with run.tracer.span("datagen"):
        df = gen_transcripts(turns, run.seed)
        path = write_transcripts_parquet(df, dest)
    run.layer["datagen.s"] = time.perf_counter() - t0
    return df, path


def _oracle_triples(path: str) -> int:
    """Distinct triples of a transcript parquet, by the DuckDB SQL mirror of
    the extraction grammar."""
    import duckdb

    from breg_dcat_harvester_spark.functions.oracle_sql import triples_sql

    con = duckdb.connect()
    try:
        glob = os.path.join(path, "*.parquet")
        return con.execute(f"SELECT count(*) FROM {triples_sql(glob)} AS t").fetchone()[0]
    finally:
        con.close()


# ---------------------------------------------------------------------------
# per-layer numbers of one harvest (traced runs)


def _stage_spans(run, rec: dict, res: dict) -> dict[str, dict]:
    """Place each stage's {stage, rows, seconds} record on the span timeline.

    Every fresh stage starts by appending a 'started' row to the runs table
    and ends after the read-back count of its output; the stage's storage
    spans are re-parented under it so self times nest.
    """
    tracer, op_span = run.tracer, rec["span"]
    runs_writes = [
        s for s in tracer.named("storage.write", rec["request"]) if s["table"] == "runs"
    ]
    stages = {}
    for i, st in enumerate(res["stages"]):
        start = runs_writes[2 * i]["start"]
        stages[st["stage"]] = tracer.add(
            "stage." + st["stage"], start, start + st["seconds"], op_span["id"],
            rows=st["rows"],
        )
    for s in tracer.spans:
        if s["request"] != rec["request"] or not s["name"].startswith("storage."):
            continue
        for st in stages.values():
            if st["start"] <= s["start"] and s["end"] <= st["end"] + 0.01:
                s["parent"] = st["id"]
    return stages


def _storage_layer(run, rec: dict, edges_table: LocalSnapshotTable, triples: int) -> None:
    from probes import snapshot_bytes

    writes = run.tracer.named("storage.write", rec["request"])
    reads = run.tracer.named("storage.read", rec["request"])
    run.layer["storage.write_s"] = sum(s["end"] - s["start"] for s in writes)
    run.layer["storage.read_s"] = sum(s["end"] - s["start"] for s in reads)
    run.layer["storage.bytes_written"] = sum(s["bytes"] for s in writes)
    run.layer["storage.snapshots"] = len(writes)
    run.layer["storage.bytes_per_triple"] = snapshot_bytes(edges_table) / triples


def _harvest_layers(run, rec: dict, res: dict, out_dir: str, turns: int, spark) -> None:
    stages = _stage_spans(run, rec, res)
    rows = {k: v["rows"] for k, v in stages.items()}
    secs = {k: v["end"] - v["start"] for k, v in stages.items()}
    run.layer["harvest.turns_per_s"] = turns / (rec["ms"] / 1000)
    run.layer["extract.s"] = secs["edges_raw"]
    run.layer["extract.edges_per_turn"] = rows["edges_raw"] / turns
    run.layer["merge.s"] = secs["triples"]
    run.layer["merge.keep_ratio"] = rows["triples"] / rows["edges_raw"]
    run.layer["validate.s"] = secs["valid_triples"]
    run.layer["link.s"] = secs["links"]
    run.layer["link.pairs"] = rows["links"]
    run.layer["cc.s"] = secs["cc_labels"]
    run.layer["cc.nodes"] = rows["cc_labels"]
    run.layer["materialize.s"] = secs["edges"] + secs["nodes"] + secs["lineage"]
    # wall time outside every stage: run-log lookups and commits between
    # stages, the partition metrics and the final counts
    run.layer["harvest.overhead_s"] = run.tracer.self_time(rec["span"], "stage.")
    # counts that need extra Spark jobs run here, outside the op's spans
    run.layer["validate.quarantined"] = (
        LocalSnapshotTable(os.path.join(out_dir, "quarantine")).read(spark).count()
    )
    valid = LocalSnapshotTable(os.path.join(out_dir, "valid_triples")).read(spark)
    cands = lnk.lsh_candidates(
        lnk.with_grams(lnk.entity_labels(valid)),
        size_ratio_threshold=HarvestConfig.link_threshold,
    ).count()
    run.layer["link.candidates"] = cands
    run.layer["link.hit_ratio"] = rows["links"] / cands if cands else 0.0
    _storage_layer(
        run, rec, LocalSnapshotTable(os.path.join(out_dir, "edges")), res["num_triples"]
    )


# ---------------------------------------------------------------------------
# harvest_batch


def harvest_batch(run) -> None:
    """Full ``run_harvest`` of a seeded corpus into a fresh output dir."""
    turns = run.args.turns or HARVEST_TURNS
    for i in range(PREPARE_REPEATS):
        _, path = _gen_corpus(run, turns, os.path.join(run.work, f"transcripts{i}"))
        run.prepare_s.append(run.layer["datagen.s"])
    expected = _oracle_triples(path)

    started = time.perf_counter()
    while run.until_done(started):
        out = os.path.join(run.work, f"harvest{len(run.ops)}")
        rec, res = run.op(
            "harvest",
            lambda: run_harvest(run.spark, path, HarvestConfig(out_dir=out)),
            write=True,
        )
        if res is None:
            continue
        rows = {s["stage"]: s["rows"] for s in res["stages"]}
        run.check(
            rec, rows.get("triples") == expected,
            f"triples stage {rows.get('triples')} != oracle {expected}",
        )
        run.check(rec, res["num_triples"] > 0, "empty graph")
        if run.tracer.enabled:
            _harvest_layers(run, rec, res, out, turns, run.spark)


# ---------------------------------------------------------------------------
# harvest_increment


def _is_shard(conv_id: str) -> bool:
    """1/16 of conversations, by the last hex digit of sha256(conv_id) —
    the hash split tests/test_storage_plans.py uses."""
    return hashlib.sha256(conv_id.encode()).hexdigest()[-1] == "0"


def harvest_increment(run) -> None:
    """Fold a 1/16 conversation shard into a base harvest of the rest."""
    turns = run.args.turns or HARVEST_TURNS
    for i in range(PREPARE_REPEATS):
        df, path = _gen_corpus(run, turns, os.path.join(run.work, f"transcripts{i}"))
        run.prepare_s.append(run.layer["datagen.s"])
    shard = df["conv_id"].map(_is_shard)
    base_src = write_transcripts_parquet(
        df[~shard].reset_index(drop=True), os.path.join(run.work, "base")
    )
    shard_src = write_transcripts_parquet(
        df[shard].reset_index(drop=True), os.path.join(run.work, "shard")
    )
    base_dir = os.path.join(run.work, "out_base")
    t0 = time.perf_counter()
    base = run_harvest(run.spark, base_src, HarvestConfig(out_dir=base_dir))
    # the batch harvest of base ∪ shard the fold must reproduce
    batch = run_harvest(run.spark, path, HarvestConfig(out_dir=os.path.join(run.work, "out_all")))
    run.setup_once_s = time.perf_counter() - t0
    base_triples = {s["stage"]: s["rows"] for s in base["stages"]}["triples"]

    started = time.perf_counter()
    while run.until_done(started):
        out = os.path.join(run.work, f"inc{len(run.ops)}")
        rec, res = run.op(
            "increment",
            lambda: hv.harvest_increment(
                run.spark, base_dir, shard_src, HarvestConfig(out_dir=out)
            ),
            write=True,
        )
        if res is None:
            continue
        for key in ("num_triples", "num_nodes"):
            run.check(rec, res[key] == batch[key], f"{key} {res[key]} != batch {batch[key]}")
        if run.tracer.enabled:
            stages = _stage_spans(run, rec, res)
            secs = {k: v["end"] - v["start"] for k, v in stages.items()}
            run.layer["inc.delta_s"] = sum(
                secs[k] for k in ("inc_triples", "delta_triples", "touched_slice", "triples")
            )
            run.layer["inc.validate_s"] = secs["valid_triples"]
            run.layer["inc.link_s"] = secs["links"]
            run.layer["inc.cc_s"] = secs["cc_labels"]
            run.layer["inc.materialize_s"] = secs["edges"] + secs["nodes"] + secs["lineage"]
            run.layer["inc.touched_ratio"] = stages["touched_slice"]["rows"] / base_triples
            run.layer["harvest.overhead_s"] = run.tracer.self_time(rec["span"], "stage.")
            _storage_layer(
                run, rec, LocalSnapshotTable(os.path.join(out, "edges")), res["num_triples"]
            )


# ---------------------------------------------------------------------------
# browse_mix

FACET_TO_FILTER = {
    "taxonomy": "themeTaxonomy",
    "location": "location",
    "language": "language",
    "theme": "theme",
    "publisherType": "publisherType",
}

# One cycle: 12 reads and 3 writes (80/20).  The write triple inserts a new
# dataset, retitles it through DELETE/INSERT WHERE and deletes it, so the
# graph has the same triples after every cycle.
CYCLE = (
    "facets", "search", "sparql_facet", "labels", "sparql_search", "insert",
    "search", "sparql_detail", "facets", "sparql_facet", "retitle", "labels",
    "sparql_search", "sparql_detail", "delete",
)

# The warm-up sends each request kind once (facets already ran while the
# parameter pools were read); a full warm-up cycle would cost 7-9 s more.
WARMUP = (
    "search", "sparql_facet", "labels", "sparql_search", "insert",
    "sparql_detail", "retitle", "delete",
)

EXCHANGE_KINDS = ("search", "sparql_facet", "sparql_search", "sparql_detail")

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
DCAT_DATASET = "http://www.w3.org/ns/dcat#Dataset"
DCT_TITLE = "http://purl.org/dc/terms/title"
DCT_IDENT = "http://purl.org/dc/terms/identifier"


class Browser:
    """The browser's requests against the current snapshot of ``edges``."""

    def __init__(self, run, table: LocalSnapshotTable):
        self.run, self.table, self.spark = run, table, run.spark
        self.last_df = None
        # request parameter pools and expected sizes, read once untimed
        self.pool: dict[str, list[str]] = {}
        for r in self.do_facets():
            self.pool.setdefault(r["facet"], []).append(r["term"])
        self.n_facet_rows = sum(len(v) for v in self.pool.values())
        self.datasets = sorted(
            r["dataset"] for r in search.search_datasets(self.edges(), None).collect()
        )
        self.size0 = self.edges().count()

    def edges(self):
        return self.table.read(self.spark)

    def do_facets(self):
        with self.run.tracer.span("facets"):
            df = facets.all_facets(self.edges())
            return df.collect()

    def do_search(self, filters):
        with self.run.tracer.span("search"):
            edges = self.edges()
            found = search.search_datasets(edges, filters)
            self.last_df = search.dataset_details_nested(edges, found)
            return self.last_df.collect()

    def do_labels(self):
        with self.run.tracer.span("labels"):
            edges = self.edges()
            df = labels.term_dicts(
                labels.enrich_terms(facets.all_facets(edges), labels.build_labels_table(edges))
            )
            return df.collect()

    def do_sparql(self, text: str):
        tr = self.run.tracer
        with tr.span("sparql"):
            edges = self.edges()
            with tr.span("sparql.parse"):
                q = sparql.parse_sparql(text)
            with tr.span("sparql.exec"):
                self.last_df = sparql.compile_query(edges, q)
                return self.last_df.collect()

    def do_update(self, text: str):
        with self.run.tracer.span("sparql_update"):
            updated = sparql_update.apply_update(self.edges(), text)
            return self.table.write(updated)

    def ask(self, text: str) -> bool:
        return bool(sparql.compile_ask(self.edges(), text).collect()[0]["ask"])

    def filters(self, rng: random.Random) -> dict[str, list[str]]:
        key = rng.choice(sorted(self.pool))
        values = self.pool[key]
        return {FACET_TO_FILTER[key]: rng.sample(values, min(2, len(values)))}

    def cycle(self, rng: random.Random, k: int, kinds=CYCLE) -> list[tuple[dict, dict]]:
        """One cycle of requests, each checked; the k-th write triple uses a
        fresh dataset node.  Returns the DataFrame searches it sent."""
        run = self.run
        node = f"urn:perfbench:dataset-{run.seed}-{k}"
        ident, t1, t2 = f"perfbench-{run.seed}-{k}", f"Title {k} a", f"Title {k} b"
        triple = f'<{node}> <{RDF_TYPE}> <{DCAT_DATASET}> . <{node}> <{DCT_IDENT}> "{ident}"'
        searched = []
        # the 3-hop publisher-type chain and one seeded 2-pattern facet query
        facet_queries = [
            "publisherType",
            rng.choice(sorted(key for key in self.pool if key != "publisherType")),
        ]
        for kind in kinds:
            if kind == "facets":
                rec, rows = run.op(kind, self.do_facets)
                run.check(rec, rows is not None and len(rows) == self.n_facet_rows, "facet rows")
            elif kind == "search":
                f = self.filters(rng)
                rec, rows = run.op(kind, lambda: self.do_search(f))
                searched.append((rec, f))
            elif kind == "labels":
                rec, rows = run.op(kind, self.do_labels)
                run.check(rec, rows is not None and len(rows) == self.n_facet_rows, "label rows")
            elif kind == "sparql_facet":
                q = sparql.REFERENCE_FACET_QUERIES[facet_queries.pop(0)]
                rec, rows = run.op(kind, lambda: self.do_sparql(q))
                run.check(rec, rows is not None and 0 < len(rows) <= 50, "facet bindings")
            elif kind == "sparql_search":
                q = sparql.build_search_query(self.filters(rng))
                rec, rows = run.op(kind, lambda: self.do_sparql(q))
            elif kind == "sparql_detail":
                uris = rng.sample(self.datasets, min(5, len(self.datasets)))
                q = sparql.build_detail_query(uris)
                rec, rows = run.op(kind, lambda: self.do_sparql(q))
            elif kind == "insert":
                text = f'INSERT DATA {{ {triple} . <{node}> <{DCT_TITLE}> "{t1}"@en }}'
                rec, _ = run.op(kind, lambda: self.do_update(text), write=True)
                run.check(
                    rec, self.ask(f'ASK {{ <{node}> <{DCT_TITLE}> "{t1}"@en }}'),
                    "insert read-back",
                )
            elif kind == "retitle":
                text = (
                    f'DELETE {{ ?d <{DCT_TITLE}> ?t }} INSERT {{ ?d <{DCT_TITLE}> "{t2}"@en }} '
                    f'WHERE {{ ?d <{DCT_IDENT}> "{ident}" . ?d <{DCT_TITLE}> ?t }}'
                )
                rec, _ = run.op(kind, lambda: self.do_update(text), write=True)
                run.check(
                    rec,
                    self.ask(
                        f'ASK {{ ?d <{DCT_IDENT}> "{ident}" . ?d <{DCT_TITLE}> "{t2}"@en . '
                        f'FILTER NOT EXISTS {{ ?d <{DCT_TITLE}> "{t1}"@en }} }}'
                    ),
                    "retitle read-back",
                )
            elif kind == "delete":
                text = f'DELETE DATA {{ {triple} . <{node}> <{DCT_TITLE}> "{t2}"@en }}'
                rec, _ = run.op(kind, lambda: self.do_update(text), write=True)
                run.check(rec, not self.ask(f"ASK {{ <{node}> ?p ?o }}"), "delete read-back")
                run.check(rec, self.edges().count() == self.size0, "graph size after the cycle")
            if run.tracer.enabled and kind in EXCHANGE_KINDS and rec["ok"]:
                rec["exchanges"] = count_exchanges(self.last_df)
        return searched

    def check_search_parity(self, rec: dict, filters: dict[str, list[str]]) -> None:
        """The same search through the DataFrame path and through the
        compiled verbatim SPARQL, unlimited on both sides."""
        want = {
            r["dataset"] for r in search.search_datasets(self.edges(), filters, limit=0).collect()
        }
        got = {
            r["dataset"]
            for r in sparql.compile_query(self.edges(), sparql.build_search_query(filters, limit=0))
            .select("dataset").distinct().collect()
        }
        self.run.check(
            rec, got == want,
            f"search parity {filters}: sparql {len(got)} != dataframe {len(want)}",
        )


def browse_mix(run) -> None:
    """Closed-loop request stream (12 reads : 3 writes per cycle) against
    a graph built in set-up; every request reads the current snapshot and
    every write commits a new one.  A warm-up pass over every request kind
    is checked but not timed."""
    turns = run.args.turns or BROWSE_TURNS
    for i in range(PREPARE_REPEATS):
        _, path = _gen_corpus(run, turns, os.path.join(run.work, f"transcripts{i}"))
        run.prepare_s.append(run.layer["datagen.s"])
    t0 = time.perf_counter()
    table = LocalSnapshotTable(os.path.join(run.work, "graph", "edges"))
    transcripts = run.spark.read.parquet(path)
    table.write(
        merge_triples(extract_edges(transcripts, impl=HarvestConfig.extract_impl)).select(
            *sparql_update.TERM_COLS
        )
    )
    run.setup_once_s = time.perf_counter() - t0

    browser = Browser(run, table)
    run.tracer.spans.clear()
    rng = random.Random(run.seed)
    run.warmup = True
    searched = browser.cycle(rng, 0, WARMUP)
    run.warmup = False
    started, k = time.perf_counter(), 1
    while k == 1 or time.perf_counter() - started < run.seconds:
        searched += browser.cycle(rng, k)
        k += 1
    browser.check_search_parity(*rng.choice(searched))
    if run.tracer.enabled:
        _browse_layers(run, table, browser.size0)


def _browse_layers(run, table: LocalSnapshotTable, triples: int) -> None:
    from probes import snapshot_bytes

    timed = run.timed()
    ids = {r["request"] for r in timed}

    def spans(name):
        return [s for s in run.tracer.named(name) if s["request"] in ids]

    def dur_s(name):
        return sum(s["end"] - s["start"] for s in spans(name)) / len(timed)

    reads = [r["ms"] for r in timed if not r["write"]]
    writes = [r["ms"] for r in timed if r["write"]]
    run.layer["read.p50_ms"] = statistics.median(reads)
    run.layer["read.tail_pct"], run.layer["read.tail_ms"] = percentile_tail(reads)
    run.layer["read.samples"] = len(reads)
    run.layer["write.tail_pct"], run.layer["write.tail_ms"] = percentile_tail(writes)
    run.layer["write.samples"] = len(writes)
    for layer in ("facets", "search", "labels", "sparql_update"):
        run.layer[f"{layer}.ms"] = _median_ms(spans(layer))
    run.layer["sparql.parse_ms"] = _median_ms(spans("sparql.parse"))
    run.layer["sparql.exec_ms"] = _median_ms(spans("sparql.exec"))
    search_ex = [r["exchanges"] for r in timed if r["kind"] == "search" and "exchanges" in r]
    sparql_ex = [
        r["exchanges"] for r in timed if r["kind"].startswith("sparql_") and "exchanges" in r
    ]
    run.layer["search.exchanges"] = statistics.mean(search_ex) if search_ex else 0.0
    run.layer["sparql.exchanges"] = statistics.mean(sparql_ex) if sparql_ex else 0.0
    # storage figures per request
    run.layer["storage.write_s"] = dur_s("storage.write")
    run.layer["storage.read_s"] = dur_s("storage.read")
    run.layer["storage.bytes_written"] = sum(s["bytes"] for s in spans("storage.write")) / len(timed)
    run.layer["storage.snapshots"] = len(spans("storage.write")) / len(timed)
    run.layer["storage.bytes_per_triple"] = snapshot_bytes(table) / triples


WORKLOADS = {
    "harvest_batch": harvest_batch,
    "harvest_increment": harvest_increment,
    "browse_mix": browse_mix,
}
