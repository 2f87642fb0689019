"""The benchmark's workloads, each driving the program's public API.

Every workload has the same shape:
- ``prepare``: generate inputs and ground truth from the seed (cached
  on disk by seed, never timed);
- ``setup``: what a deployment does before its first operation —
  ingest and publish the base snapshots from raw files through the
  program's own readers, flatten builds and event refresh (timed, as
  part of ``setup_s``);
- ``step``: one operation, timed, then checked against ground truth
  (the check is not timed). Returns an ``Op``.

A run times operations until ``--seconds`` have passed and at least
``min_ops`` operations are done.

Why each workload exists, and which layers it stresses, is in README.md.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import pickle
import shutil
import threading
import time
from dataclasses import dataclass
from functools import reduce

import numpy as np

from . import gen, truth

GEN_VERSION = 2  # bump when generated content changes, to invalidate caches


@dataclass
class Op:
    latency_s: float
    items: int
    ok: bool
    error: str | None = None


class NullTracer:
    """Tracer stand-in for untraced runs: spans cost nothing."""

    def span(self, name, rid=None, **attrs):
        return contextlib.nullcontext()

    def adopting(self):
        return contextlib.nullcontext()

    def harvest(self):
        pass


def cached(path: str, build):
    """Load ``path`` (a pickle this benchmark wrote) or build and store it."""
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    value = build()
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(value, fh)
    os.replace(tmp, path)
    return value


# ---------------------------------------------------------------------------
# snapshot inputs and publishing
# ---------------------------------------------------------------------------

class SnapshotInputs:
    """A universe, its dated file sets and per-snapshot ground truth."""

    def __init__(self, cache_dir: str, seed: int, n_v4_16: int, n_v6_32: int, n_snapshots: int):
        self.raw_dir = os.path.join(cache_dir, "raw")

        def build():
            u = gen.Universe(seed, n_v4_16=n_v4_16, n_v6_32=n_v6_32)
            snaps = [
                gen.write_snapshot(u, i, d, self.raw_dir)
                for i, d in enumerate(gen.snapshot_dates(n_snapshots))
            ]
            with open(os.path.join(self.raw_dir, "asnames.csv"), "w") as fh:
                fh.write(u.asnames_csv())
            return u, snaps

        os.makedirs(cache_dir, exist_ok=True)
        self.universe, self.snaps = cached(os.path.join(cache_dir, "snapshots.pkl"), build)
        self.asnames_path = os.path.join(self.raw_dir, "asnames.csv")
        self.truths = {
            s["date"]: truth.SnapshotTruth(
                s["date"], s["geo_rows"], s["asn_rows"], self.universe.locations, self.universe.asnames
            )
            for s in self.snaps
        }

    def n_blocks(self, snaps) -> int:
        return sum(len(s["geo_rows"]) + len(s["asn_rows"]) for s in snaps)


class Publisher:
    """Publishes dated file sets with the program's event refresh: one
    file-arrival message per file set and table, and one
    ``start_event_refresh`` query per table (geo and asn, side by side)
    builds the interval tables and commits a ``VersionedTableManifest``
    version; the ``SnapshotStore`` swaps. Readers take a consistent
    ``view``: the registry only lists dates whose geo AND asn tables
    are both committed."""

    def __init__(self, spark, root: str, tracer):
        from annotation_service_spark.streaming import refresh as rf

        self.spark, self.root, self.tracer = spark, root, tracer
        self.rf = rf
        self.store = rf.SnapshotStore()
        self._lock = threading.Lock()
        self._view = None
        self._paths: list[tuple[str, str]] = []
        self.progress: list[dict] = []
        self._msg = 0

    # build callbacks (run inside the refresh's foreachBatch)
    def _blocks_union(self, paths, reader, source):
        from pyspark.sql import functions as F

        from annotation_service_spark.sources import registry

        parts = [
            reader(p).withColumn("dataset_date", registry.dataset_date_from_path(F.lit(p), source))
            for p in paths
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    def build_geo(self, paths):
        from annotation_service_spark.sources import geolite2

        spark = self.spark
        newest = sorted(paths)[-1]
        locs_path = newest.replace("-GeoLite2-City-Blocks.csv", "-GeoLite2-City-Locations-en.csv")
        blocks = self._blocks_union(paths, lambda p: geolite2.geolite2_blocks(spark, p), "geolite2")
        locs = geolite2.geolite2_locations(spark, locs_path)
        return geolite2.build_geo_ranges(blocks, locs, partition_by=("dataset_date",))

    def build_asn(self, paths):
        from annotation_service_spark.sources import routeviews

        spark = self.spark
        pfx = self._blocks_union(paths, lambda p: routeviews.routeviews_pfx2as(spark, p), "asn_v4")
        return routeviews.build_asn_ranges(pfx, partition_by=("dataset_date",))

    def publish(self, snaps: list[dict]) -> None:
        """Announce and build one batch of file sets; returns when the
        new version is readable from the store."""
        from pyspark.sql import types as T

        schema = T.StructType([T.StructField("path", T.StringType())])
        queries = []
        # the geo and asn refreshes are independent streaming queries and
        # run side by side, as in a deployment
        with self.tracer.span("refresh.queries"), self.tracer.adopting():
            for table, key, build in (("geo", "blocks", self.build_geo), ("asn", "pfx2as", self.build_asn)):
                events = os.path.join(self.root, f"{table}_events")
                os.makedirs(events, exist_ok=True)
                self._msg += 1
                tmp = os.path.join(self.root, f".msg{self._msg}.tmp")
                with open(tmp, "w") as fh:
                    fh.write("\n".join(json.dumps({"path": s["paths"][key]}) for s in snaps))
                os.replace(tmp, os.path.join(events, f"m{self._msg:05d}.json"))
                stream = self.spark.readStream.format("json").schema(schema).load(events)
                queries.append((table, self.rf.start_event_refresh(
                    stream, build, self.store, table,
                    os.path.join(self.root, f"{table}_ckpt"), os.path.join(self.root, f"{table}_out"),
                )))
            for _table, q in queries:
                q.awaitTermination()
        for table, q in queries:
            for p in q.recentProgress:
                self.progress.append(dict(p.get("durationMs", {}), table=table))
            self.rf.VersionedTableManifest(os.path.join(self.root, f"{table}_out")).retain(keep=3)
        self._set_view(snaps)

    def _set_view(self, snaps: list[dict]) -> None:
        from annotation_service_spark.sources import registry

        with self._lock:
            self._paths = self._paths + [(s["paths"]["blocks"], "geolite2") for s in snaps]
            paths = list(self._paths)
        reg_df = registry.build_registry(self.spark.createDataFrame(paths, "path string, source string"))
        view = (
            sorted(self._dates_of(paths)),
            reg_df.select("dataset_date"),
            self.store.get("geo"),
            self.store.get("asn"),
        )
        with self._lock:
            self._view = view

    @staticmethod
    def _dates_of(paths):
        for p, _src in paths:
            stamp = os.path.basename(p)[:8]
            yield dt.date(int(stamp[:4]), int(stamp[4:6]), int(stamp[6:8]))

    def view(self):
        with self._lock:
            return self._view


class AnnotateBase:
    """Shared set-up of the annotate workloads: base snapshots
    published through the refresh path plus the undated dimensions."""

    n_v4_16 = 60
    n_v6_32 = 16
    n_base = 2
    n_extra = 0
    min_ops = 1

    def __init__(self, spark, work: str, cache: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.cache = cache
        self.inputs: SnapshotInputs | None = None

    def prepare(self) -> None:
        self.inputs = SnapshotInputs(
            os.path.join(self.cache, f"snapshots-v{GEN_VERSION}-s{self.seed}-{self.n_v4_16}-{self.n_v6_32}-{self.n_base + self.n_extra}"),
            self.seed, self.n_v4_16, self.n_v6_32, self.n_base + self.n_extra,
        )

    def setup(self) -> None:
        from annotation_service_spark.sources import dims, geolite2

        snaps = self.inputs.snaps[: self.n_base]
        self.pub = Publisher(self.spark, os.path.join(self.work, "published"), self.tracer)
        with self.tracer.span("setup.publish", blocks=self.inputs.n_blocks(snaps)):
            self.pub.publish(snaps)
            self.locs = geolite2.geolite2_locations(self.spark, snaps[-1]["paths"]["locations"])
            self.names = dims.asnames(self.spark, self.inputs.asnames_path)

    def annotate_request(self, req: dict, rid: int) -> Op:
        """parse_requests -> annotate -> go_v2_response_document -> collect."""
        from pyspark.sql import functions as F

        from annotation_service_spark.plans import annotate as plan
        from annotation_service_spark.plans import api

        dates, reg, geo, asn = self.pub.view()
        tr = self.tracer
        t0 = time.perf_counter()
        docs = self.spark.createDataFrame([(rid, req["body"])], "request_id long, body string")
        parsed = api.parse_requests(docs)
        ann = plan.annotate(parsed, geo, self.locs, asn, self.names, date_col="request_date", registry=reg)
        doc = api.go_v2_response_document(ann, F.col("dataset_date").cast("timestamp"))
        with tr.span("action"):
            rows = doc.collect()
        latency = time.perf_counter() - t0
        with tr.span("check"):
            got = json.loads(rows[0].response_json) if len(rows) == 1 else None
            want = truth.expected_document(req, self.inputs.truths, dates)
            ok = got == want
        return Op(latency, 1, ok, None if ok else _first_diff(got, want))


def _first_diff(got, want) -> str:
    if not isinstance(got, dict):
        return f"no document: {str(got)[:200]}"
    if got.get("AnnotatorDate") != want["AnnotatorDate"]:
        return f"AnnotatorDate {got.get('AnnotatorDate')} != {want['AnnotatorDate']}"
    ga = got.get("Annotations", {})
    for ip, w in want["Annotations"].items():
        if ga.get(ip) != w:
            return f"{ip}: got {json.dumps(ga.get(ip))[:300]} want {json.dumps(w)[:300]}"
    return f"extra keys: {sorted(set(ga) - set(want['Annotations']))[:5]}"


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class ApiRequests(AnnotateBase):
    """Closed loop, one client: each v2 (or v1) request body runs
    parse_requests -> annotate -> go_v2_response_document -> collect and
    waits for its reply before the next is sent."""

    name = "api_requests"
    warmup_ops = 1

    def prepare(self) -> None:
        super().prepare()
        rng = np.random.default_rng([self.seed, 7])
        dates = [s["date"] for s in self.inputs.snaps[: self.n_base]]
        self.requests = gen.request_bodies(rng, self.inputs.universe, 300, dates)
        self.i = 0

    def step(self) -> Op:
        req = self.requests[self.i % len(self.requests)]
        self.i += 1
        with self.tracer.span("op.request", rid=req["id"]):
            return self.annotate_request(req, req["id"])


class BulkAnnotate(AnnotateBase):
    """The batch ETL: a seeded probe table with dates spanning the
    snapshots goes through annotate(date_col=..., registry=...) and the
    annotated table is written out as parquet."""

    name = "bulk_annotate"
    warmup_ops = 1
    n_probes = 60_000

    def prepare(self) -> None:
        super().prepare()
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.inputs.raw_dir, os.pardir, f"probes-{self.n_probes}")
        self.probes_path = os.path.join(d, "probes.parquet")
        dates = [s["date"] for s in self.inputs.snaps[: self.n_base]]

        def build():
            rng = np.random.default_rng([self.seed, 8])
            ips = gen.random_ips(rng, self.inputs.universe, self.n_probes)
            span_end = dates[-1] + dt.timedelta(days=40)
            ts = [gen.random_ts(rng, dates[0] - dt.timedelta(days=20), span_end) for _ in ips]
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                pa.table({"pid": np.arange(len(ips), dtype=np.int64), "ip": ips, "req_ts": ts}),
                self.probes_path,
            )
            exp = [self.inputs.truths[truth.asof_date(t, dates)].flat_annotation(ip) for ip, t in zip(ips, ts)]
            return {"date": [truth.asof_date(t, dates) for t in ts], "rows": exp}

        self.expected = cached(os.path.join(d, "truth.pkl"), build)

    def setup(self) -> None:
        super().setup()
        self.out_dir = os.path.join(self.work, "bulk_out")

    def step(self) -> Op:
        from annotation_service_spark.plans import annotate as plan

        tr = self.tracer
        dates, reg, geo, asn = self.pub.view()
        with tr.span("op.bulk"):
            t0 = time.perf_counter()
            probes = self.spark.read.parquet(self.probes_path)
            ann = plan.annotate(probes, geo, self.locs, asn, self.names, date_col="req_ts", registry=reg)
            out = ann.select(
                "pid", "dataset_date",
                "geo.missing", "geo.country_code", "geo.city", "geo.postal_code", "geo.latitude", "geo.longitude",
                ann["network.missing"].alias("net_missing"), "network.cidr", "network.as_number", "network.as_name",
            )
            with tr.span("action"):
                out.write.mode("overwrite").parquet(self.out_dir)
            latency = time.perf_counter() - t0
            with tr.span("check"):
                err = self.check()
        return Op(latency, self.n_probes, err is None, err)

    def check(self) -> str | None:
        import pyarrow.parquet as pq

        return compare_bulk(pq.read_table(self.out_dir), self.expected)


BULK_COLUMNS = ("missing", "country_code", "city", "postal_code", "latitude", "longitude",
                "net_missing", "cidr", "as_number", "as_name")


def compare_bulk(table, expected: dict) -> str | None:
    """First mismatch between the written bulk table and the expected
    rows (by pid), or None when every row matches."""
    t = table.sort_by("pid")
    if t.num_rows != len(expected["rows"]):
        return f"{t.num_rows} rows written, {len(expected['rows'])} expected"
    cols = [t.column(c).to_pylist() for c in BULK_COLUMNS]
    dates = t.column("dataset_date").to_pylist()
    for i, (want, want_date) in enumerate(zip(expected["rows"], expected["date"])):
        got = tuple(c[i] for c in cols)
        if got != want or dates[i] != want_date:
            return f"pid {i}: got {got} @ {dates[i]} want {want} @ {want_date}"
    return None


class RefreshUnderLoad(AnnotateBase):
    """New dated file sets land one at a time and are published through
    the event refresh while a second thread keeps the api client loop
    running with dates after the newest snapshot."""

    name = "refresh_under_load"
    warmup_ops = 0
    n_extra = 12
    n_check_ips = 200

    def prepare(self) -> None:
        super().prepare()
        rng = np.random.default_rng([self.seed, 9])
        dates = [s["date"] for s in self.inputs.snaps]
        # client requests always dated after every snapshot that can land
        self.requests = gen.request_bodies(rng, self.inputs.universe, 300, dates, newest_share=1.0)
        self.check_ips = list(dict.fromkeys(gen.random_ips(rng, self.inputs.universe, self.n_check_ips + 20)))[: self.n_check_ips]
        self.next_snap = self.n_base
        self.landing = os.path.join(self.work, "landing")

    def setup(self) -> None:
        super().setup()
        self.client_ops: list[Op] = []
        self._stop = threading.Event()
        self._client = None

    def _client_loop(self) -> None:
        i = 0
        while not self._stop.is_set():
            req = self.requests[i % len(self.requests)]
            i += 1
            try:
                with self.tracer.span("op.request", rid=req["id"]):
                    op = self.annotate_request(req, req["id"])
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                op = Op(0.0, 1, False, f"{type(exc).__name__}: {exc}"[:300])
            self.client_ops.append(op)

    def start_load(self) -> None:
        self._client = threading.Thread(target=self._client_loop, name="api-client", daemon=True)
        self._client.start()

    def stop_load(self) -> None:
        self._stop.set()
        if self._client is not None:
            self._client.join(timeout=170)

    def step(self) -> Op:
        from pyspark.sql import functions as F

        from annotation_service_spark.plans import annotate as plan
        from annotation_service_spark.plans import api

        if self.next_snap >= len(self.inputs.snaps):
            raise RuntimeError("ran out of pre-generated snapshots; raise n_extra")
        snap = self.inputs.snaps[self.next_snap]
        self.next_snap += 1
        tr = self.tracer
        with tr.span("op.refresh", blocks=self.inputs.n_blocks([snap])):
            # the files land (atomic renames into the watched directory)
            os.makedirs(self.landing, exist_ok=True)
            landed = {"date": snap["date"], "paths": {}}
            for key, src in snap["paths"].items():
                dst = os.path.join(self.landing, os.path.basename(src))
                shutil.copyfile(src, dst + ".tmp")
                os.replace(dst + ".tmp", dst)
                landed["paths"][key] = dst
            t0 = time.perf_counter()
            self.pub.publish([landed])
            latency = time.perf_counter() - t0
            with tr.span("check"):
                dates, reg, geo, asn = self.pub.view()
                ok = dates[-1] == snap["date"]
                err = None if ok else f"newest readable date {dates[-1]} != {snap['date']}"
                if ok:
                    ts = dt.datetime.combine(snap["date"], dt.time(12))
                    req = self.spark.createDataFrame(
                        [(ip, ts) for ip in self.check_ips], "ip string, ts timestamp")
                    ann = plan.annotate(req, geo, self.locs, asn, self.names, date_col="ts", registry=reg)
                    doc = api.go_v2_response_document(ann, F.col("dataset_date").cast("timestamp"))
                    got = json.loads(doc.collect()[0].response_json)
                    want = truth.expected_document({"ts": ts, "ips": self.check_ips}, self.inputs.truths, dates)
                    ok = got == want
                    err = None if ok else "fixed probe set: " + _first_diff(got, want)
        return Op(latency, 1, ok, err)


class CurationPipeline:
    """The pipeline_full and web_pipeline_full gates of
    ``__spark_entry__.queries()`` over two seeded corpora. One operation
    runs both gates over one corpus; corpora alternate A, B, A, B and
    caches are released only at run start, so scoped caches keyed per
    call site see interleaved inputs. At least two operations are timed
    (A then B), so both corpora are in the window; a third does not fit
    the run budget (README.md). The warm-up runs both gates over a third
    corpus, the same documents under another rotation, so it compiles
    the plans the timed operations use (a smaller one left the first
    timed operation 2-4 s slower than the second). Each result is compared with
    the gate's DuckDB oracle SQL."""

    name = "curation_pipeline"
    warmup_ops = 1
    min_ops = 2
    gates = ("pipeline_full", "web_pipeline_full")
    n_docs = 1000

    def __init__(self, spark, work: str, cache: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.cache = cache

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.dirs = {}
        for label, rotate in (("W", 7), ("A", 0), ("B", 13)):
            d = os.path.join(self.cache, f"corpus-v{GEN_VERSION}-s{self.seed}-{self.n_docs}-{label}")
            self.dirs[label] = d
            if not os.path.exists(os.path.join(d, "documents.parquet")):
                os.makedirs(d, exist_ok=True)
                pq.write_table(gen.documents(self.seed, self.n_docs, rotate), os.path.join(d, ".tmp.parquet"))
                os.replace(os.path.join(d, ".tmp.parquet"), os.path.join(d, "documents.parquet"))
        self.i = 0
        self.pending: list[tuple[Op, list]] = []

    def setup(self) -> None:
        from annotation_service_spark.caching import release_caches

        import __spark_entry__ as entry

        self.queries = entry.queries()
        release_caches()

    def step(self) -> Op:
        labels = "W" if self.i == 0 else "AB"[(self.i - 1) % 2]
        self.i += 1
        tr = self.tracer
        with tr.span("op.curation", corpora=labels):
            t0 = time.perf_counter()
            results = []
            for label in labels:
                for gate in self.gates:
                    with tr.span("curation.construct", gate=gate):
                        df = self.queries[gate](self.spark, self.dirs[label])
                    with tr.span("action"):
                        results.append((label, gate, df.columns, df.collect()))
            latency = time.perf_counter() - t0
            with tr.span("check"):
                got = [(label, gate, norm_rows(cols, [[r[c] for c in cols] for r in rows]))
                       for label, gate, cols, rows in results]
        op = Op(latency, self.n_docs * len(self.gates), True)
        self.pending.append((op, got))
        return op

    def finish(self) -> None:
        """Compare every recorded result with the DuckDB oracle. Done
        after the timed phase, so the program's own module import stays
        inside setup_s (the oracle SQL lives in that module)."""
        oracle = {}
        for op, results in self.pending:
            errors = []
            for label, gate, got in results:
                key = (gate, label)
                if key not in oracle:
                    oracle[key] = cached(
                        os.path.join(self.dirs[label], f"oracle-{gate}.pkl"),
                        lambda: _duckdb_oracle(gate, self.dirs[label]),
                    )
                want = oracle[key]
                if got != want:
                    diff = next((a, b) for a, b in zip(got + [None] * len(want), want + [None] * len(got)) if a != b)
                    errors.append(f"{gate}/{label}: {len(got)} rows vs oracle {len(want)}; first diff {diff}"[:400])
            op.ok = not errors
            op.error = "; ".join(errors) or None


def norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def norm_rows(cols, rows) -> list[tuple]:
    """Order-insensitive normal form: columns by name, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def _duckdb_oracle(gate: str, sf_dir: str) -> list[tuple]:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        rel = con.sql(entry.oracle_sql()[gate])
        cols = [d[0] for d in rel.description]
        return norm_rows(cols, rel.fetchall())
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (BulkAnnotate, ApiRequests, RefreshUnderLoad, CurationPipeline)}
