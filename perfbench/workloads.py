"""The benchmark's workloads: one closed-loop client each.

``kafsql``        KAFSQL statements over the ``events`` topic: three
                  unique ad-hoc statements, then one replay of a small
                  dashboard set held in the engine's result cache.
``ingest_dedup``  Produce → consume → curate: append 1,000-document
                  batches to a 4-partition topic and read back exactly the
                  new offsets; every eighth op clusters the last batch's
                  near duplicates instead.

A workload has ``CYCLE`` (its op kinds in order; a run's timed region
ends on a whole cycle), ``prepare`` (set-up into a fresh root),
``warmup``, ``op`` (one timed operation; returns rows delivered),
``between_ops`` (timed maintenance that is not part of an op) and
``check`` (correctness, outside the timed region; returns the indexes of
wrong ops). Spans go to ``self.tr``, a ``tracing.Tracer`` or ``NO_TRACE``.
"""

from __future__ import annotations

import json
import os
import random
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import datetime, timedelta

import duckdb

from data import EVENTS_START_US

DAY0 = datetime.utcfromtimestamp(EVENTS_START_US / 1e6)
#: the engine's pinned clock (``LAST`` windows are not used, but the
#: result-cache key depends on whether a clock is pinned)
NOW = DAY0 + timedelta(days=30)
TS_FMT = "%Y-%m-%d %H:%M:%S"


class _NoTrace:
    op = None
    _null = nullcontext()

    def span(self, name: str):
        return self._null


NO_TRACE = _NoTrace()


def _canon(rows) -> list[tuple]:
    """Order-insensitive, float-tolerant row canon for oracle compares."""
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        return v
    return sorted(tuple(cell(v) for v in r) for r in rows)


# ---------------------------------------------------------------------------
# kafsql
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Stmt:
    """A KAFSQL statement and its DuckDB twin over the materialized files."""

    shape: str  # point | agg | topk
    partition: int = 0
    offset: int = 0
    lo: datetime = DAY0

    @property
    def window(self) -> tuple[str, str]:
        hi = self.lo + timedelta(hours=24) - timedelta(seconds=1)
        return self.lo.strftime(TS_FMT), hi.strftime(TS_FMT)

    def kafsql(self) -> str:
        lo, hi = self.window
        if self.shape == "point":
            return (
                "SELECT _partition, _offset, _key FROM events "
                f"WHERE _partition = {self.partition} AND _offset >= {self.offset} "
                f"AND _offset <= {self.offset + 10} SCAN FULL"
            )
        if self.shape == "agg":
            return (
                "SELECT _partition, count(*) AS n, min(_offset) AS lo, max(_offset) AS hi "
                f"FROM events WHERE _ts BETWEEN '{lo}' AND '{hi}' GROUP BY _partition"
            )
        return (
            "SELECT _partition, _offset, _ts FROM events "
            f"WHERE _ts BETWEEN '{lo}' AND '{hi}' ORDER BY _ts DESC LIMIT 20"
        )

    def duckdb(self) -> str:
        lo, hi = self.window
        between = f"_ts BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'"
        if self.shape == "point":
            return (
                "SELECT _partition, _offset, "
                "CASE WHEN _key IS NULL THEN NULL ELSE '\\x' || lower(hex(_key)) END "
                f"FROM ev WHERE _partition = {self.partition} "
                f"AND _offset BETWEEN {self.offset} AND {self.offset + 10}"
            )
        if self.shape == "agg":
            return (
                "SELECT _partition, count(*), min(_offset), max(_offset) "
                f"FROM ev WHERE {between} GROUP BY _partition"
            )
        return (
            "SELECT _partition, _offset, strftime(_ts, '%Y-%m-%d %H:%M:%S.%g') "
            f"FROM ev WHERE {between} ORDER BY _ts DESC LIMIT 20"
        )

    def same(self, got: list[tuple], want: list[tuple]) -> bool:
        if self.shape == "topk":  # order is part of the answer
            return [tuple(r) for r in got] == [tuple(r) for r in want]
        return _canon(got) == _canon(want)


class Kafsql:
    """Ops cycle ad-hoc point fetch, ad-hoc 24 h aggregate, ad-hoc 24 h
    top-20, dashboard: a quarter of the ops are cache hits, so neither the
    median nor the 90th percentile sits on the edge between the hit and
    miss latency modes, whichever is faster. Ad-hoc statements are unique
    (enforced), so they always plan and run; dashboard statements come
    from ``N_DASHBOARD`` fixed panels and are pre-warmed into the result
    cache as the last set-up step, so every timed dashboard op is a hit
    (the timed region is shorter than the cache's 30 s TTL)."""

    name = "kafsql"
    inputs = ("events",)
    N_DASHBOARD = 6
    ZIPF_S = 1.0
    CYCLE = ("point", "agg", "topk", "dash")
    WARMUP_ADHOC = 6

    def __init__(self, spark, run_dir: str, data_dir: str, seed: int, tr=NO_TRACE) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.tr = tr
        self.seen: set[str] = set()
        #: panels: a per-partition aggregate and a top-20 for each of a
        #: few days; the days are replayed with Zipf skew, the two panel
        #: shapes alternate so every run returns the same row mix
        self.days = self.rng.sample(range(30), self.N_DASHBOARD // 2)
        self.dashboard = {
            (d, shape): Stmt(shape, lo=DAY0 + timedelta(days=d))
            for d in self.days
            for shape in ("agg", "topk")
        }
        self.seen.update(s.kafsql() for s in self.dashboard.values())
        w = [1 / (k + 1) ** self.ZIPF_S for k in range(len(self.days))]
        self.day_weights = [x / sum(w) for x in w]
        self.dash_ops = 0
        self.log: list[tuple[int, Stmt, list[tuple]]] = []

    def prepare(self) -> None:
        from platform_spark.sql.engine import KafSqlEngine
        from platform_spark.topics import TopicCatalog

        catalog = TopicCatalog(
            self.spark, self.data_dir, cache_root=os.path.join(self.run_dir, "topics")
        )
        self.engine = KafSqlEngine(catalog, now=NOW)
        self.topic_path = catalog.materialize("events", catalog.cache_root)

    def _adhoc(self, shape: str) -> Stmt:
        while True:
            if shape == "point":
                s = Stmt(shape, partition=self.rng.randrange(4), offset=self.rng.randrange(24_000))
            else:
                s = Stmt(shape, lo=DAY0 + timedelta(seconds=self.rng.randrange(29 * 86_400)))
            if s.kafsql() not in self.seen:
                self.seen.add(s.kafsql())
                return s

    def _run(self, i: int, stmt: Stmt) -> int:
        df = self.engine.sql(stmt.kafsql())
        with self.tr.span("engine.execute"):
            rows = df.collect()
        self.log.append((i, stmt, [tuple(r) for r in rows]))
        return len(rows)

    def warmup(self) -> None:
        for k in range(self.WARMUP_ADHOC):
            self._run(-1, self._adhoc(("point", "agg", "topk")[k % 3]))
        # first sight of a statement only marks it; the repeat collects
        # and caches its rows, so every timed dashboard op is a hit. The
        # most replayed panels go last: they are the freshest entries.
        for d in reversed(self.days):
            for shape in ("agg", "topk"):
                s = self.dashboard[(d, shape)]
                self.engine.sql(s.kafsql())
                self._run(-1, s)

    def op(self, i: int) -> int:
        shape = self.CYCLE[i % len(self.CYCLE)]
        if shape == "dash":
            day = self.rng.choices(self.days, self.day_weights)[0]
            stmt = self.dashboard[(day, ("agg", "topk")[self.dash_ops % 2])]
            self.dash_ops += 1
        else:
            stmt = self._adhoc(shape)
        return self._run(i, stmt)

    def between_ops(self, i: int) -> None:
        pass

    def check(self) -> set[int]:
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            con.execute(
                "CREATE TABLE ev AS SELECT CAST(_partition AS INTEGER) AS _partition, "
                "_offset, CAST(_ts AS TIMESTAMP) AS _ts, _key FROM read_parquet("
                f"'{self.topic_path}/**/*.parquet', hive_partitioning = true)"
            )
            want: dict[Stmt, list[tuple]] = {}
            bad: set[int] = set()
            for i, stmt, rows in self.log:
                if stmt not in want:
                    want[stmt] = con.execute(stmt.duckdb()).fetchall()
                if not stmt.same(rows, want[stmt]):
                    bad.add(i)
            return bad
        finally:
            con.close()


# ---------------------------------------------------------------------------
# ingest_dedup
# ---------------------------------------------------------------------------

#: the parameter the correctness gate registers ``dedup_clusters_fast``
#: with, so the gate's DuckDB twin is the oracle
NGRAM_THRESHOLD = 0.12


class IngestDedup:
    """Produce → consume → curate on a fresh 4-partition topic. Ops cycle
    seven ingest ops and one dedup op. An ingest op appends one fixed
    1,000-document batch (JSON ``_value`` of ~300 B: doc id, text, lang)
    and reads back exactly the new offsets: its latency is the
    produce→consume latency. A dedup op reads the last appended batch back
    from the topic and runs ``dedup_clusters_fast`` on it (~5× an ingest
    op, nearly all fixed per-call Spark work, so a smaller batch would not
    shorten it). Dedup is an eighth of the ops, so the median falls deep
    inside the ingest mode and a dedup change moves ``ops_per_s``.
    Appends cycle over ``N_BATCHES`` batches chosen by the seed; their
    frames are cached in set-up, so an append starts from records already
    in the engine, not from Python rows. The topic is compacted after
    every ``COMPACT_EVERY`` appends (once a cycle), inside the timed
    region but outside any op's latency."""

    name = "ingest_dedup"
    inputs = ("documents",)
    BATCH = 1_000
    N_BATCHES = 3
    CYCLE = ("ingest",) * 7 + ("dedup",)
    COMPACT_EVERY = 7
    #: the first dedup call is ~3× a steady one and the next still
    #: settles; the warm-up ends with a compaction, so every timed cycle
    #: starts on a freshly compacted topic
    WARMUP = ("ingest", "dedup") * 2 + ("ingest",) * 2

    def __init__(self, spark, run_dir: str, data_dir: str, seed: int, tr=NO_TRACE) -> None:
        import pyarrow.parquet as pq

        self.spark = spark
        self.run_dir = run_dir
        self.tr = tr
        self.docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pylist()
        ids = list(range(len(self.docs)))
        random.Random(seed).shuffle(ids)
        self.batches = [sorted(ids[k * self.BATCH : (k + 1) * self.BATCH])
                        for k in range(self.N_BATCHES)]
        self.values = [
            [json.dumps({"doc_id": d, "text": self.docs[d]["text"], "lang": self.docs[d]["lang"]})
             for d in batch]
            for batch in self.batches
        ]
        self.log: list[dict] = []
        #: ingest-layer accounting, filled only when tracing: bytes written
        #: by appends, by compaction rewrites, and as records (key + value)
        self.io = {"append_bytes": 0, "compact_bytes": 0, "record_bytes": 0, "files_max": 0}

    def prepare(self) -> None:
        from platform_spark.streaming.ingest import RECORD_SCHEMA, TopicWriter

        self.writer = TopicWriter(self.spark, os.path.join(self.run_dir, "ingest"), "docs")
        self.appends = 0
        #: appends since the last compaction
        self.pending = 0
        #: (batch, high-water marks before, after) of the last append
        self.last: tuple[int, dict, dict] | None = None
        self.frames = [
            self.spark.createDataFrame(
                [(str(d), v, None, DAY0 + timedelta(seconds=d), None) for d, v in zip(b, vals)],
                RECORD_SCHEMA,
            ).cache()
            for b, vals in zip(self.batches, self.values)
        ]
        for f in self.frames:
            f.count()

    def warmup(self) -> None:
        for k, kind in enumerate(self.WARMUP):
            getattr(self, "_" + kind)(-1 - k)
        self._compact()

    def op(self, i: int) -> int:
        return getattr(self, "_" + self.CYCLE[i % len(self.CYCLE)])(i)

    def _new_docs(self, before: dict, after: dict):
        """The topic's records at offsets ``[before, after)``, per partition,
        as (partition, offset, doc_id, text)."""
        from pyspark.sql import functions as F

        new = None
        for p, end in after.items():
            c = (F.col("_partition") == p) & (F.col("_offset") >= before.get(p, 0)) & (
                F.col("_offset") < end
            )
            new = c if new is None else new | c
        value = F.col("_value").cast("string")
        return self.writer.read().filter(new).select(
            "_partition",
            "_offset",
            F.get_json_object(value, "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object(value, "$.text").alias("text"),
        )

    def _ingest(self, i: int) -> int:
        b = self.appends % self.N_BATCHES
        before = self.writer.high_water_marks()
        tracing = self.tr is not NO_TRACE
        files_before = self._files() if tracing else None
        hwm = dict(self.writer.append(self.frames[b]))
        self.appends += 1
        self.pending += 1
        self.last = (b, before, hwm)
        if tracing:
            self._note_append(files_before, b)
        with self.tr.span("ingest.readback"):
            got = self._new_docs(before, hwm).collect()
        self.log.append({"i": i, "kind": "ingest", "batch": b, "before": before,
                         "after": hwm, "got": [tuple(r) for r in got]})
        return len(got)

    def _dedup(self, i: int) -> int:
        from platform_spark.llmdata import clusters

        b, before, after = self.last
        with self.tr.span("dedup.clusters_fast"):
            clu = clusters.dedup_clusters_fast(
                self._new_docs(before, after).select("doc_id", "text"),
                threshold=NGRAM_THRESHOLD,
            ).collect()
        self.log.append({"i": i, "kind": "dedup", "batch": b,
                         "clusters": [tuple(r) for r in clu]})
        return len(self.batches[b])

    def between_ops(self, i: int) -> None:
        if self.pending == self.COMPACT_EVERY:
            self._compact()

    def _compact(self) -> None:
        self.pending = 0
        self.writer.compact()
        if self.tr is not NO_TRACE:
            self.io["compact_bytes"] += self.disk_bytes()

    # -- ingest-layer accounting (traced runs) ---------------------------
    def _files(self) -> set[str]:
        return {
            os.path.join(d, f)
            for d, _, fs in os.walk(self.writer.path)
            for f in fs
            if f.endswith(".parquet")
        }

    def _note_append(self, before: set[str], b: int) -> None:
        now = self._files()
        self.io["append_bytes"] += sum(os.path.getsize(f) for f in now - before)
        self.io["record_bytes"] += sum(
            len(str(d)) + len(v) for d, v in zip(self.batches[b], self.values[b])
        )
        per_part: dict[str, int] = {}
        for f in now:
            per_part[os.path.dirname(f)] = per_part.get(os.path.dirname(f), 0) + 1
        self.io["files_max"] = max(self.io["files_max"], max(per_part.values()))

    def disk_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self._files())

    # -- correctness -------------------------------------------------------
    def check(self) -> set[int]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from platform_spark.gate import GATE

        bad: set[int] = set()
        triples: list[tuple[int, int, int]] = []
        ingests = [e for e in self.log if e["kind"] == "ingest"]
        for e in ingests:
            got = e["got"]
            ok = sorted(r[2] for r in got) == self.batches[e["batch"]]
            ok = ok and all(r[3] == self.docs[r[2]]["text"] for r in got)
            for p in set(e["before"]) | set(e["after"]):
                offs = sorted(r[1] for r in got if r[0] == p)
                ok = ok and offs == list(range(e["before"].get(p, 0), e["after"].get(p, 0)))
            if not ok:
                bad.add(e["i"])
            triples.extend((r[0], r[1], r[2]) for r in got)

        # the final files hold exactly what was read back at append time,
        # each row once: rows and offsets survived every compaction unchanged
        stored: list[tuple[int, int, int]] = []
        for f in self._files():
            p = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            t = pq.read_table(f, columns=["_offset", "_value"])
            stored.extend(
                (p, o, json.loads(v)["doc_id"])
                for o, v in zip(t.column("_offset").to_pylist(), t.column("_value").to_pylist())
            )
        hwm = self.writer.high_water_marks()
        contiguous = len(stored) == sum(hwm.values()) and all(
            sorted(o for p2, o, _ in stored if p2 == p) == list(range(n)) for p, n in hwm.items()
        )
        if sorted(stored) != sorted(triples) or not contiguous:
            bad.update(e["i"] for e in ingests)

        oracle = GATE["llm_dedup_clusters_fast"][1]
        want: dict[int, list[tuple]] = {}
        con = duckdb.connect()
        try:
            for e in self.log:
                if e["kind"] != "dedup":
                    continue
                b = e["batch"]
                if b not in want:
                    con.register("batch", pa.table({
                        "doc_id": self.batches[b],
                        "text": [self.docs[d]["text"] for d in self.batches[b]],
                    }))
                    con.execute("CREATE OR REPLACE TABLE documents AS SELECT * FROM batch")
                    want[b] = _canon(con.execute(oracle).fetchall())
                if _canon(e["clusters"]) != want[b]:
                    bad.add(e["i"])
        finally:
            con.close()
        return bad


WORKLOADS = {w.name: w for w in (Kafsql, IngestDedup)}
