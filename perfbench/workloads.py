"""The three workloads, driven through the engine's public API.

Each workload has one unit of work (a dashboard refresh, a curation
pass, a feed replay pass). `unit()` runs it with a sink for every
output: the timed loop writes to Spark's noop sink, and the cold first
pass collects the rows so `check()` can verify them afterwards, outside
the timed region. Every call into a layer is wrapped in a tracer span
(a no-op when tracing is off) tagged with the layer's module name and
its phase: `build` (the Python call that returns a DataFrame: py4j and
analysis) or `run` (materialising it).
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry
from real_time_database_monitoring_system_spark.operators import dashboard as dashboard_ops
from real_time_database_monitoring_system_spark.operators import dedup as dedup_ops
from real_time_database_monitoring_system_spark.operators import monitoring
from real_time_database_monitoring_system_spark.sources import registry, txn
from real_time_database_monitoring_system_spark.streaming import rollup

import check

QUERIES = entry.queries()


@dataclass
class Unit:
    """What one unit of work did: wall seconds, per-step seconds and
    how many user-visible items it completed."""

    seconds: float
    steps: list[float]
    items: int
    traced: bool = False
    # streaming progress reports of the unit's queries
    progress: list[dict] = field(default_factory=list)


@dataclass
class Collected:
    cols: list[str]
    rows: list


def noop_sink(name: str, df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CollectSink:
    """Collects outputs into the Python process for the correctness checks."""

    def __init__(self) -> None:
        self.out: dict[str, Collected] = {}

    def __call__(self, name: str, df) -> None:
        self.out[name] = Collected(df.columns, df.collect())


@dataclass
class Workload:
    spark: object
    inputs: object
    work_dir: str
    # REST counters client of a traced run; traced units record
    # per-unit observations in `samples`, one-off ones go to `counters`
    rest: object = None
    samples: dict[str, list] = field(default_factory=lambda: defaultdict(list))
    counters: dict[str, float] = field(default_factory=dict)
    clients = 1
    # units each client runs in a timed run, however short the window
    min_rounds = 1
    # step latency: per-step timings of the unit, or the micro-batch
    # times from Spark's streaming progress reports
    steps_from_progress = False

    def verify_pass(self) -> tuple[int, list[str]]:
        """Checks run after every timed unit: (checks made, problems)."""
        return 0, []

    def cleanup_pass(self) -> None:
        """Drops what a unit left behind, so the next one starts alike."""


class Dashboard(Workload):
    """One refresh of the reference `/index/` page: fill the shared
    events cache, the eight `snapshot_dashboard` panels, then the
    registry panels, each to a noop sink. Two clients share a session."""

    clients = 2
    min_rounds = 2
    # panel -> registry entry holding its DuckDB twin
    PANEL_ENTRY = {"downsample": "downsample_5min", "top_consumers": "topk_events"}
    ENTRIES = [
        ("sql_bucket_panel", "functions.sql_udfs"),
        ("to_char_formats", "functions.pg_dialect"),
        ("size_pretty", "functions.pg_dialect"),
        ("minute_corr_join", "operators.monitoring"),
        ("tps_per_user", "operators.monitoring"),
        ("paginate_keyset", "operators.monitoring"),
    ]

    def unit(self, tr, unit_id: str, sink) -> Unit:
        sf = self.inputs.sf_dir
        steps: list[float] = []
        t0 = time.perf_counter()
        with tr.span("dashboard.refresh", unit=unit_id):
            with tr.span("snapshot_dashboard", "operators.dashboard", "build"):
                panels = dashboard_ops.snapshot_dashboard(self.spark, sf)
            events = panels.pop("_events")
            try:
                t = time.perf_counter()
                with tr.span("cache_fill", "operators.dashboard", "cache_fill"):
                    noop_sink("_events", events)
                steps.append(time.perf_counter() - t)
                if tr.enabled:
                    self.samples["cache_mb"].append(self.rest.cached_mb())
                for name, df in panels.items():
                    t = time.perf_counter()
                    with tr.span(name, "operators.dashboard", "run"):
                        sink(name, df)
                    steps.append(time.perf_counter() - t)
                for name, layer in self.ENTRIES:
                    t = time.perf_counter()
                    with tr.span(name, layer, "build"):
                        df = QUERIES[name](self.spark, sf)
                    with tr.span(name, layer, "run"):
                        sink(name, df)
                    steps.append(time.perf_counter() - t)
            finally:
                events.unpersist()
        return Unit(time.perf_counter() - t0, steps, 1)

    def check(self, collected: dict[str, Collected], oracle: dict[str, str]) -> tuple[int, list[str]]:
        con = check.duck_connection(self.inputs.sf_dir)
        problems = []
        for name, c in collected.items():
            ref = self.PANEL_ENTRY.get(name, name)
            problems += [f"{name}: {p}" for p in check.against_oracle(con, oracle.get(ref), c)]
        con.close()
        return len(collected), problems


class Curation(Workload):
    """The training-data curation chain over the generated corpus, then
    SemDeDup and exact kNN over the generated embeddings."""

    OPS = [
        ("quality_score", "operators.text"),
        ("c4_rule_filter", "operators.text"),
        ("exact_dedup", "operators.dedup"),
        ("minhash_lsh_pairs", "operators.dedup"),
        ("ngram_jaccard_pairs", "operators.dedup"),
        ("decontaminate_13gram", "operators.curation"),
        ("shard_pack", "operators.pipeline"),
        ("semantic_dedup", "operators.clustering"),
        ("knn_bruteforce", "operators.similarity"),
    ]
    # floor for minhash recall of planted near-duplicates (1-2 token
    # substitutions, Jaccard >= ~0.6 on 4-gram shingles; the 8x4 band
    # layout finds such a pair with probability >= ~0.75)
    NEAR_RECALL_FLOOR = 0.7

    def unit(self, tr, unit_id: str, sink) -> Unit:
        sf = self.inputs.sf_dir
        steps: list[float] = []
        t0 = time.perf_counter()
        with tr.span("curation.pass", unit=unit_id):
            for name, layer in self.OPS:
                t = time.perf_counter()
                with tr.span(name, layer, "build"):
                    df = QUERIES[name](self.spark, sf)
                with tr.span(name, layer, "run"):
                    sink(name, df)
                steps.append(time.perf_counter() - t)
        return Unit(time.perf_counter() - t0, steps, self.inputs.sizes["documents"])

    def check(self, collected: dict[str, Collected], oracle: dict[str, str]) -> tuple[int, list[str]]:
        con = check.duck_connection(self.inputs.sf_dir)
        problems = []
        for name, c in collected.items():
            problems += [f"{name}: {p}" for p in check.against_oracle(con, oracle.get(name), c)]
        con.close()
        recall_checks, recall_problems = self._recall(collected)
        return len(collected) + recall_checks, problems + recall_problems

    def _recall(self, collected: dict[str, Collected]) -> tuple[int, list[str]]:
        exact = collected["exact_dedup"]
        ix = {c: i for i, c in enumerate(exact.cols)}
        copies = {r[ix["keeper_doc_id"]]: r[ix["n_copies"]] for r in exact.rows}
        hit_exact, n_exact = check.exact_groups_found(self.inputs.exact_dup_pairs, copies)
        mh = collected["minhash_lsh_pairs"]
        ia, ib = mh.cols.index("doc_a"), mh.cols.index("doc_b")
        found = {(r[ia], r[ib]) for r in mh.rows}
        near = self.inputs.near_dup_pairs
        hit_near = check.planted_pairs_found(near, found)
        self.counters["planted_recall"] = (hit_exact + hit_near) / max(1, n_exact + len(near))
        self.counters["matches"] = len(found)
        problems = []
        if hit_exact != n_exact:
            problems.append(f"exact_dedup recall {hit_exact}/{n_exact} planted groups")
        if hit_near < self.NEAR_RECALL_FLOOR * len(near):
            problems.append(f"minhash near-dup recall {hit_near}/{len(near)} below floor")
        return 2, problems

    def candidates(self) -> int:
        """Distinct LSH candidate pairs at the `minhash_lsh_pairs` entry's
        operating point (4-gram shingles, default band layout)."""
        from pyspark.sql import functions as F

        docs = registry.load_table(self.spark, self.inputs.sf_dir, "documents")
        banded = dedup_ops.portable_bands(dedup_ops.portable_shingle_hashes(docs, shingle_k=4))
        a = banded.select("band_id", "band_key", F.col("doc_id").alias("doc_a"))
        b = banded.select("band_id", "band_key", F.col("doc_id").alias("doc_b"))
        return (
            a.join(b, ["band_id", "band_key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .count()
        )


class FeedIngest(Workload):
    """Replays the poll files through the streaming write paths, then
    commits each poll into a `SnapshotCatalog` table with `merge_into`
    keyed on event_id, vacuums, and reads the maintained rollup."""

    steps_from_progress = True

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self._n = 0
        self._tables: list[str] = []
        self._last = None  # (catalog, its root, alerts table) of the latest pass

    def _stream_views(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()
                if t.isTemporary and t.name.startswith("stream_result_")]

    def unit(self, tr, unit_id: str, sink) -> Unit:
        spark, feed = self.spark, self.inputs.feed_dir
        self._n += 1
        rollup_t, alerts_t = f"rollup_p{self._n}", f"alerts_p{self._n}"
        cat_root = os.path.join(self.work_dir, f"catalog_p{self._n}")
        written = 0
        t0 = time.perf_counter()
        with tr.span("feed.pass", unit=unit_id):
            with tr.span("stream_rollup_incremental", "streaming.rollup", "run"):
                rollup.stream_rollup_incremental(spark, feed, rollup_t)
            with tr.span("stream_alerts_to_table", "streaming.rollup", "run"):
                rollup.stream_alerts_to_table(spark, feed, alerts_t)
            with tr.span("stream_dedup", "streaming.rollup", "run"):
                deduped = rollup.stream_dedup(spark, feed)
                sink("stream_dedup", deduped)
            with tr.span("catalog_open", "sources.txn", "build"):
                cat = txn.SnapshotCatalog(cat_root)
            for i, path in enumerate(self.inputs.feed_files):
                with tr.span("load_poll", "registry", "load"):
                    poll = spark.read.schema(registry.SCHEMAS["events"]).parquet(path)
                with tr.span("commit", "sources.txn", "commit"):
                    try:
                        if i == 0:
                            cat.commit({"events": poll})
                        else:
                            txn.merge_into(cat, spark, "events", poll, ["event_id"])
                    except txn.ConcurrentCommitError:
                        self.counters["conflicts"] = self.counters.get("conflicts", 0) + 1
                        raise
                with tr.span("vacuum", "sources.txn", "vacuum"):
                    cat.vacuum()
                if tr.enabled:
                    written += _dir_bytes(os.path.join(cat_root, cat.manifest()["tables"]["events"]))
            with tr.span("rollup_read", "streaming.rollup", "run"):
                sink("rollup", spark.table(rollup_t).orderBy("bucket_s"))
        seconds = time.perf_counter() - t0
        if tr.enabled:
            self.samples["written_bytes"].append(written)
        self._tables += [rollup_t, alerts_t]
        self._last = (cat, cat_root, alerts_t)
        # its steps are the micro-batches, from the progress reports
        return Unit(seconds, [], self.inputs.feed_rows)

    def verify_pass(self) -> tuple[int, list[str]]:
        """Cheap per-pass checks against the generator's ground truth."""
        cat, _, alerts_t = self._last
        problems = []
        n_cat = cat.read(self.spark, "events").count()
        if n_cat != self.inputs.feed_distinct:
            problems.append(f"catalog rows {n_cat} != distinct feed {self.inputs.feed_distinct}")
        n_alerts = self.spark.table(alerts_t).count()
        if n_alerts != self.inputs.feed_alerts:
            problems.append(f"alert rows {n_alerts} != {self.inputs.feed_alerts}")
        return 2, problems

    def cleanup_pass(self) -> None:
        for v in self._stream_views():
            self.spark.catalog.dropTempView(v)
        for t in self._tables:
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
        self._tables = []
        if self._last is not None:
            shutil.rmtree(self._last[1], ignore_errors=True)

    def check(self, collected: dict[str, Collected], oracle: dict[str, str]) -> tuple[int, list[str]]:
        """Full checks of the cold pass: the maintained rollup equals the
        batch `downsample_5min` on the same feed; the stream dedup and
        the catalog table equal the deduplicated feed."""
        spark, problems = self.spark, []
        feed = self.inputs.feed_dir
        batch = monitoring.downsample_5min(registry.load_table(spark, feed, "events"))
        got = collected["rollup"]
        if not check.same_rows(got.cols, got.rows, batch.columns, batch.collect()):
            problems.append("stream_rollup_incremental table != downsample_5min on the same feed")
        truth = pa.concat_tables(pq.read_table(f) for f in self.inputs.feed_files)
        ids = truth.column("event_id").to_pylist()
        first = {}
        for i, e in enumerate(ids):
            first.setdefault(e, i)
        distinct = truth.take(sorted(first.values()))
        dd = collected["stream_dedup"]
        got_ids = sorted(r[dd.cols.index("event_id")] for r in dd.rows)
        if got_ids != sorted(first):
            problems.append(f"stream_dedup kept {len(got_ids)} rows, want {len(first)} distinct event_ids")
        cat = self._last[0]
        cat_df = cat.read(spark, "events").select(*distinct.column_names)
        want = [tuple(r.values()) for r in distinct.to_pylist()]
        if not check.same_rows(cat_df.columns, cat_df.collect(), distinct.column_names, want):
            problems.append("SnapshotCatalog events table != deduplicated feed")
        n_pass, pass_problems = self.verify_pass()
        return 3 + n_pass, problems + pass_problems


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


WORKLOADS = {"dashboard": Dashboard, "curation": Curation, "feed_ingest": FeedIngest}
