"""Interval algebra truth-table tests.

Every expected list below is copied from the reference's unit tests
(iputils/iputils_test.go) — the semantics contract for T1/T2/J1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from annotation_service_spark.functions import ip as ipf
from annotation_service_spark.operators import interval as iv


def _mk_ranges(spark, cidr_payloads):
    """(cidr, payload) list → DataFrame with 16-byte bounds + seq (file order)."""
    rows = []
    for i, (cidr, pl) in enumerate(cidr_payloads):
        lo, hi = ipf.py_cidr_to_range(cidr)
        rows.append((i, lo, hi, pl))
    return spark.createDataFrame(
        rows, "seq long, ip_low binary, ip_high binary, payload string"
    )


def _fmt(df):
    out = df.orderBy("ip_low").collect()
    return [
        (ipf.py_bytes16_to_ip(r.ip_low), ipf.py_bytes16_to_ip(r.ip_high), r.payload)
        for r in out
    ]


# iputils_test.go:18-42 — 5 nested/overlapping CIDRs → 7 disjoint ranges
TRUTH_FLATTEN = [
    ("1.0.0.0/24", "custom1"),
    ("1.0.0.2/26", "custom2"),
    ("1.0.10.0/24", "custom3"),
    ("1.0.10.124/30", "custom4"),
    ("2.1.0.0/8", "custom5"),
]
EXPECTED_FLATTEN = [
    ("1.0.0.0", "1.0.0.1", "custom1"),
    ("1.0.0.2", "1.0.0.63", "custom2"),
    ("1.0.0.64", "1.0.0.255", "custom1"),
    ("1.0.10.0", "1.0.10.123", "custom3"),
    ("1.0.10.124", "1.0.10.127", "custom4"),
    ("1.0.10.128", "1.0.10.255", "custom3"),
    ("2.1.0.0", "2.255.255.255", "custom5"),
]


def test_flatten_truth_table(spark):
    df = _mk_ranges(spark, TRUTH_FLATTEN)
    flat = iv.flatten_intervals(
        df, payload=["payload"], seq="seq", merge=True
    )
    assert _fmt(flat) == EXPECTED_FLATTEN


def test_flatten_with_merge_truth_table(spark):
    # iputils_test.go:45-67 — same but custom2→custom1: adjacent-equal merge
    inputs = [(c, "custom1" if p == "custom2" else p) for c, p in TRUTH_FLATTEN]
    df = _mk_ranges(spark, inputs)
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq", merge=True)
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.0.255", "custom1"),
        ("1.0.10.0", "1.0.10.123", "custom3"),
        ("1.0.10.124", "1.0.10.127", "custom4"),
        ("1.0.10.128", "1.0.10.255", "custom3"),
        ("2.1.0.0", "2.255.255.255", "custom5"),
    ]


def test_flatten_no_intersection(spark):
    # iputils_test.go:161-181 — disjoint inputs pass through
    rows = [
        (0, "1.0.0.0", "1.0.1.0", "a"),
        (1, "1.0.1.1", "1.0.1.12", "b"),
        (2, "1.0.1.100", "1.0.1.112", "c"),
    ]
    df = spark.createDataFrame(
        [
            (s, ipf.py_ip_to_bytes16(lo), ipf.py_ip_to_bytes16(hi), p)
            for s, lo, hi, p in rows
        ],
        "seq long, ip_low binary, ip_high binary, payload string",
    )
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.1.0", "a"),
        ("1.0.1.1", "1.0.1.12", "b"),
        ("1.0.1.100", "1.0.1.112", "c"),
    ]


def test_flatten_nested_networks(spark):
    # iputils_test.go:184-212 — parent with two children: remainders re-emerge
    rows = [
        (0, "1.0.0.0", "1.0.1.0", "x"),
        (1, "1.0.1.1", "1.0.1.100", "parent"),
        (2, "1.0.1.10", "1.0.1.20", "c1"),
        (3, "1.0.1.30", "1.0.1.80", "c2"),
        (4, "1.0.2.1", "1.0.2.112", "y"),
    ]
    df = spark.createDataFrame(
        [
            (s, ipf.py_ip_to_bytes16(lo), ipf.py_ip_to_bytes16(hi), p)
            for s, lo, hi, p in rows
        ],
        "seq long, ip_low binary, ip_high binary, payload string",
    )
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.1.0", "x"),
        ("1.0.1.1", "1.0.1.9", "parent"),
        ("1.0.1.10", "1.0.1.20", "c1"),
        ("1.0.1.21", "1.0.1.29", "parent"),
        ("1.0.1.30", "1.0.1.80", "c2"),
        ("1.0.1.81", "1.0.1.100", "parent"),
        ("1.0.2.1", "1.0.2.112", "y"),
    ]


def test_flatten_partial_intersection(spark):
    # iputils_test.go:215-232 — later row wins the overlap, earlier truncated
    rows = [
        (0, "1.0.0.0", "1.0.1.0", "a"),
        (1, "1.0.0.150", "1.0.3.1", "b"),
    ]
    df = spark.createDataFrame(
        [
            (s, ipf.py_ip_to_bytes16(lo), ipf.py_ip_to_bytes16(hi), p)
            for s, lo, hi, p in rows
        ],
        "seq long, ip_low binary, ip_high binary, payload string",
    )
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.0.149", "a"),
        ("1.0.0.150", "1.0.3.1", "b"),
    ]


def test_flatten_sql_matches_numpy(spark):
    """Differential: the pure-SQL formulation (long bounds) must agree
    with the vectorized one — mirrors the reference's binary-vs-linear
    differential pattern (geolite2v2/geo-ip_test.go:123-203)."""
    import random

    rng = random.Random(42)
    rows = []
    for i in range(200):
        lo = rng.randrange(0, 100000)
        hi = lo + rng.randrange(0, 5000)
        rows.append((i, lo, hi, f"p{rng.randrange(6)}"))
    df = spark.createDataFrame(rows, "seq long, low long, high long, payload string")
    a = iv.flatten_intervals(df, low="low", high="high", payload=["payload"], seq="seq")
    b = iv.flatten_intervals_sql(df, low="low", high="high", payload=["payload"], seq="seq")
    la = [(r.low, r.high, r.payload) for r in a.orderBy("low").collect()]
    lb = [(r.low, r.high, r.payload) for r in b.orderBy("low").collect()]
    assert la == lb
    # disjointness + sortedness invariant (T4)
    for (l1, h1, _), (l2, _, _) in zip(la, la[1:]):
        assert l1 <= h1 < l2


def test_merge_adjacent_equal(spark):
    df = spark.createDataFrame(
        [
            (0, 10, "a"),
            (11, 20, "a"),   # adjacent equal -> merge
            (22, 30, "a"),   # gap -> no merge
            (31, 40, "b"),   # adjacent, different payload -> no merge
            (35, 50, "b"),   # overlapping equal -> merge
        ],
        "low long, high long, payload string",
    )
    out = iv.merge_adjacent_equal(df, payload=["payload"])
    got = [(r.low, r.high, r.payload) for r in out.orderBy("low").collect()]
    assert got == [(0, 20, "a"), (22, 30, "a"), (31, 50, "b")]


# --- J1: range join ---------------------------------------------------------

SEARCH_QUERIES = [
    ("1.0.0.1", "custom1"),
    ("1.0.0.60", "custom2"),
    ("1.0.0.67", "custom1"),
    ("1.0.10.123", "custom3"),
    ("1.0.10.124", "custom4"),
    ("1.0.10.200", "custom3"),
    ("2.2.155.43", "custom5"),
    ("192.4.1.123", None),  # not found (iputils_test.go:118-124)
]


def test_range_join_broadcast_binary(spark):
    ranges = iv.flatten_intervals(
        _mk_ranges(spark, TRUTH_FLATTEN), payload=["payload"], seq="seq"
    )
    probes = spark.createDataFrame([(q,) for q, _ in SEARCH_QUERIES], "ip string")
    probes = probes.withColumn("ipb", ipf.ip_to_bytes(F.col("ip")))
    out = iv.range_join_broadcast(
        probes, ranges, probe_col="ipb", payload=["payload"], how="left"
    )
    got = {r.ip: r.payload for r in out.collect()}
    assert got == dict(SEARCH_QUERIES)


def test_range_join_bucketed_matches_broadcast(spark):
    ranges = spark.createDataFrame(
        [(i * 100, i * 100 + 49, f"p{i}") for i in range(50)],
        "low long, high long, payload string",
    )
    probes = spark.createDataFrame(
        [(i * 7 % 5000,) for i in range(300)], "v long"
    )
    a = iv.range_join_broadcast(
        probes, ranges, probe_col="v", low="low", high="high", payload=["payload"]
    )
    b = iv.range_join_bucketed(
        probes, ranges, probe_col="v", low="low", high="high",
        payload=["payload"], bucket_width=128,
    )
    la = sorted((r.v, r.payload) for r in a.collect())
    lb = sorted((r.v, r.payload) for r in b.collect())
    assert la == lb


def _snapshot_fixture(spark):
    """3 dated snapshots of long ranges + probes touching only 2 dates."""
    import datetime as dt

    dates = [dt.date(2020, 1, 1), dt.date(2020, 7, 1), dt.date(2021, 1, 1)]
    rows = [
        (d, i * 100, i * 100 + 99, f"{d.isoformat()}:p{i}")
        for d in dates
        for i in range(20)
    ]
    ranges = spark.createDataFrame(
        rows, "dataset_date date, low long, high long, payload string"
    )
    probes = spark.createDataFrame(
        [(i, i * 37 % 2000, dates[i % 2]) for i in range(100)],
        "pid long, v long, dataset_date date",
    )
    return dates, ranges, probes


def test_range_join_broadcast_prunes_unreferenced_snapshots(spark):
    """VERDICT r1 #3: the broadcast must hold only the snapshots the
    probe set references — not every snapshot in the build table."""
    dates, ranges, probes = _snapshot_fixture(spark)
    pruned = iv._pruned_ranges(probes, ranges, ["dataset_date"], True, None)
    got_dates = {r.dataset_date for r in pruned.select("dataset_date").distinct().collect()}
    assert got_dates == {dates[0], dates[1]}  # 2021 snapshot never collected

    out = iv.range_join_broadcast(
        probes, ranges, probe_col="v", low="low", high="high",
        payload=["payload"], how="left", keys=["dataset_date"],
    )
    for r in out.collect():
        assert r.payload == f"{r.dataset_date.isoformat()}:p{r.v // 100}"


def test_range_join_broadcast_probe_keys_df_avoids_probe_pass(spark):
    dates, ranges, probes = _snapshot_fixture(spark)
    reg = spark.createDataFrame([(dates[0],), (dates[1],)], "dataset_date date")
    pruned = iv._pruned_ranges(probes, ranges, ["dataset_date"], True, reg)
    assert pruned.select("dataset_date").distinct().count() == 2


def test_range_join_broadcast_size_gate_falls_back_to_bucketed(spark):
    dates, ranges, probes = _snapshot_fixture(spark)
    a = iv.range_join_broadcast(
        probes, ranges, probe_col="v", low="low", high="high",
        payload=["payload"], how="left", keys=["dataset_date"],
    )
    b = iv.range_join_broadcast(
        probes, ranges, probe_col="v", low="low", high="high",
        payload=["payload"], how="left", keys=["dataset_date"],
        max_broadcast_bytes=1,  # force the bucketed fallback
    )
    la = sorted((r.pid, r.payload) for r in a.collect())
    lb = sorted((r.pid, r.payload) for r in b.collect())
    assert la == lb


def test_range_join_broadcast_size_gate_raises_for_binary(spark):
    import pytest as _pytest

    ranges = iv.flatten_intervals(
        _mk_ranges(spark, TRUTH_FLATTEN), payload=["payload"], seq="seq"
    )
    probes = spark.createDataFrame([("1.0.0.5",)], "ip string")
    probes = probes.withColumn("ipb", ipf.ip_to_bytes(F.col("ip")))
    with _pytest.raises(ValueError, match="bucketed fallback"):
        iv.range_join_broadcast(
            probes, ranges, probe_col="ipb", payload=["payload"],
            max_broadcast_bytes=1,
        )


# --- J1 build cache: one search table per build-table version ----------------


def _submitted_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, its job ids)."""
    import uuid

    sc = spark.sparkContext
    group = f"rangejoin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "range join construction")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_range_join_cache_second_call_submits_no_job(spark, tmp_path):
    dates, ranges_src, probes = _snapshot_fixture(spark)
    path = str(tmp_path / "ranges")
    ranges_src.write.partitionBy("dataset_date").parquet(path)
    ranges = spark.read.parquet(path)
    groups = iv.referenced_key_groups(probes, ["dataset_date"])
    assert sorted(groups) == [(dates[0],), (dates[1],)]

    def join(df):
        return iv.range_join_broadcast(
            probes, df, probe_col="v", low="low", high="high",
            payload=["payload"], keys=["dataset_date"], key_groups=groups,
        )

    first, first_jobs = _submitted_jobs(spark, lambda: join(ranges))
    assert first_jobs  # the build: one toPandas over the two groups
    second, jobs = _submitted_jobs(spark, lambda: join(ranges))
    assert jobs == []
    # a fresh read of the unchanged files is the same build table
    reread = spark.read.parquet(path)
    third, jobs = _submitted_jobs(spark, lambda: join(reread))
    assert jobs == []
    want = _rows(first, "pid", "payload")
    assert _rows(second, "pid", "payload") == want
    assert _rows(third, "pid", "payload") == want
    for pid, pl in want:
        v = pid * 37 % 2000
        assert pl == f"{dates[pid % 2].isoformat()}:p{v // 100}"

    # keyless build: no key pass either
    flat = ranges.where(F.col("dataset_date") == dates[0]).drop("dataset_date")
    keyless = probes.drop("dataset_date")
    a = iv.range_join_broadcast(
        keyless, flat, probe_col="v", low="low", high="high", payload=["payload"]
    )
    b, jobs = _submitted_jobs(spark, lambda: iv.range_join_broadcast(
        keyless, flat, probe_col="v", low="low", high="high", payload=["payload"]
    ))
    assert jobs == []
    assert _rows(a, "pid", "payload") == _rows(b, "pid", "payload")


def test_range_join_cache_misses_on_new_version_and_rewrite(spark, tmp_path):
    from annotation_service_spark.streaming.refresh import VersionedTableManifest

    probes = spark.createDataFrame([(i, i * 10) for i in range(10)], "pid long, v long")

    def snapshot(tag):
        return spark.createDataFrame(
            [(i * 10, i * 10 + 9, f"{tag}{i}") for i in range(10)],
            "low long, high long, payload string",
        )

    def payloads(ranges):
        out = iv.range_join_broadcast(
            probes, ranges, probe_col="v", low="low", high="high", payload=["payload"]
        )
        return {r.pid: r.payload for r in out.collect()}

    # a VersionedTableManifest commit lists other directories
    table = str(tmp_path / "table")
    manifest = VersionedTableManifest(table)
    d0, d1 = f"{table}/batch=0", f"{table}/batch=1"
    snapshot("old").write.parquet(d0)
    manifest.commit(0, [d0])
    v0 = manifest.read(spark)
    assert payloads(v0) == {i: f"old{i}" for i in range(10)}
    snapshot("new").write.parquet(d1)
    manifest.commit(1, [d1], replace=True)
    assert payloads(manifest.read(spark)) == {i: f"new{i}" for i in range(10)}
    assert payloads(v0) == {i: f"old{i}" for i in range(10)}  # pinned reader

    # a parquet table rewritten at the same path lists other files
    path = str(tmp_path / "rewritten")
    snapshot("a").write.parquet(path)
    assert payloads(spark.read.parquet(path)) == {i: f"a{i}" for i in range(10)}
    snapshot("b").write.mode("overwrite").parquet(path)
    assert payloads(spark.read.parquet(path)) == {i: f"b{i}" for i in range(10)}


def test_range_join_release_and_eviction_keep_built_plans_correct(spark):
    from annotation_service_spark.caching import release_caches

    dates, ranges, probes = _snapshot_fixture(spark)
    kw = dict(probe_col="v", low="low", high="high", payload=["payload"],
              keys=["dataset_date"])
    want = [
        (pid, f"{dates[pid % 2].isoformat()}:p{pid * 37 % 2000 // 100}")
        for pid in range(100)
    ]

    built = iv.range_join_broadcast(probes, ranges, **kw)
    release_caches()
    assert not iv._build_cache
    assert _rows(built, "pid", "payload") == want

    # an LRU eviction forced by a second build table under a tight bound
    built = iv.range_join_broadcast(probes, ranges, **kw)
    mine = [k for k, e in iv._build_cache.items() if e.source is ranges]
    assert len(mine) == 2
    other = ranges.withColumn("payload", F.concat(F.col("payload"), F.lit("-b")))
    row_bytes = 2 * 8 + 64 + 16
    iv.range_join_broadcast(
        probes, other, max_broadcast_bytes=2 * 20 * row_bytes, **kw
    )
    assert not any(k in iv._build_cache for k in mine)
    assert _rows(built, "pid", "payload") == want


def _v6_bytes(text):
    import ipaddress

    return ipaddress.ip_address(text).packed


# v4 (mapped), a v6 range crossing the 64-bit word boundary, and the
# link-local /64 zone-scoped probes land in
_EDGE_RANGES = [
    (b"\x00" * 10 + b"\xff\xff" + bytes([1, 0, 0, 0]),
     b"\x00" * 10 + b"\xff\xff" + bytes([1, 0, 0, 255]), "v4"),
    (_v6_bytes("2001:db8:0:1:ffff:ffff:ffff:ff00"), _v6_bytes("2001:db8:0:2::ff"), "cross"),
    (_v6_bytes("fe80::"), _v6_bytes("fe80::ffff:ffff:ffff:ffff"), "link"),
]
_EDGE_PROBES = [
    ("1.0.0.5", "v4"),
    ("2002:0100:0005::1", "v4"),  # 6to4 of 1.0.0.5
    ("2001:db8:0:1:ffff:ffff:ffff:ff00", "cross"),  # low bound
    ("2001:db8:0:1:ffff:ffff:ffff:ffff", "cross"),  # last of the low word
    ("2001:db8:0:2::", "cross"),  # first of the next word
    ("2001:db8:0:2::ff", "cross"),  # high bound
    ("2001:db8:0:2::100", None),  # one past
    ("2001:db8:0:1:ffff:ffff:ffff:feff", None),  # one below
    ("fe80::1%eth0", "link"),  # zone-scoped
    ("1.0.1.0", None),
    ("::ffff:1.0.0.9", "v4"),
    ("junk", None),
    ("1.2.3", None),
    ("", None),
    (None, None),
]


def test_range_join_cache_hit_equals_miss_on_ip_edge_cases(spark, caplog):
    import logging

    ranges = spark.createDataFrame(
        _EDGE_RANGES, "ip_low binary, ip_high binary, payload string"
    )
    probes = spark.createDataFrame(
        [(i, ip) for i, (ip, _) in enumerate(_EDGE_PROBES)], "pid long, ip string"
    )

    def join():
        return iv.range_join_broadcast(
            probes, ranges, probe_col="ip", payload=["payload"], parse_ips=True
        )

    caplog.set_level(logging.DEBUG, logger=iv.__name__)
    miss = join()
    assert any("built 1 groups" in m for m in caplog.messages)
    caplog.clear()
    hit, jobs = _submitted_jobs(spark, join)
    assert jobs == []
    assert any("hit 1 groups" in m for m in caplog.messages)
    want = sorted((i, pl) for i, (_, pl) in enumerate(_EDGE_PROBES))
    assert _rows(miss, "pid", "payload") == want
    assert _rows(hit, "pid", "payload") == want


# ---------------------------------------------------------------------------
# General interval×interval overlap join (grid-cell blocked)
# ---------------------------------------------------------------------------


def _brute_overlaps(left, right):
    return sorted(
        (l + r)
        for l in left
        for r in right
        if l[1] <= r[2] and r[1] <= l[2]
    )


def test_overlap_join_matches_brute_force(spark):
    # intervals chosen to exercise: spans of 1..4 cells, exact cell
    # alignment, zero-length intervals, touching endpoints, and pairs
    # sharing SEVERAL cells (the exactly-once condition's target)
    left = [
        (1, 0, 250),      # spans 3 cells at width 100
        (2, 99, 100),     # straddles a cell edge
        (3, 400, 400),    # zero-length
        (4, 150, 460),    # overlaps several rights across 4 cells
    ]
    right = [
        (10, 50, 120),
        (11, 100, 199),
        (12, 250, 250),   # touches left-1's end exactly
        (13, 390, 410),
        (14, 500, 600),   # overlaps nothing
    ]
    ldf = spark.createDataFrame(left, "lid long, ls long, le long")
    rdf = spark.createDataFrame(right, "rid long, rs long, re long")
    out = iv.interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", cell_width=100)
    got = sorted(tuple(r) for r in out.collect())
    assert got == _brute_overlaps(left, right)
    # exactly-once: no pair emitted twice even when they share cells
    assert len(got) == len(set((g[0], g[3]) for g in got))


def test_overlap_join_with_keys(spark):
    left = [(1, "u", 0, 100), (2, "v", 0, 100)]
    right = [(10, "u", 50, 60), (11, "v", 50, 60), (12, "w", 50, 60)]
    ldf = spark.createDataFrame(left, "lid long, k string, ls long, le long")
    rdf = spark.createDataFrame(right, "rid long, k string, rs long, re long")
    out = iv.interval_overlap_join(
        ldf, rdf, "ls", "le", "rs", "re", cell_width=100, keys=["k"]
    )
    pairs = sorted((r.lid, r.rid) for r in out.collect())
    assert pairs == [(1, 10), (2, 11)]
