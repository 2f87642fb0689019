"""Tests of the benchmark's own machinery: generator, ground truth,
checkers, percentile rule and span self-times. No Spark needed.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import ipaddress
import os
import threading

import numpy as np
import pytest

from perfbench import gen, stats, truth
from perfbench.trace import Tracer, parse_metric
from perfbench.workloads import _first_diff, compare_bulk

V4M = 0xFFFF << 32


def brute_winner(rows, v):
    """Last row in file order whose [lo, hi] covers v (innermost wins)."""
    hit = None
    for i, r in enumerate(rows):
        if r[0] <= v <= r[1]:
            hit = i
    return hit


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    u = gen.Universe(7, n_v4_16=6, n_v6_32=4, n_loc=40)
    d = tmp_path_factory.mktemp("raw")
    snaps = [gen.write_snapshot(u, i, day, str(d)) for i, day in enumerate(gen.snapshot_dates(2))]
    truths = {
        s["date"]: truth.SnapshotTruth(s["date"], s["geo_rows"], s["asn_rows"], u.locations, u.asnames)
        for s in snaps
    }
    return u, snaps, truths, d


def test_parse_ip_edges():
    v4 = V4M | int(ipaddress.IPv4Address("1.2.3.4"))
    assert truth.parse_ip("1.2.3.4") == v4
    assert truth.parse_ip("::ffff:1.2.3.4") == v4
    assert truth.parse_ip("2002:0102:0304::1") == v4  # 6to4 rewrite
    assert truth.parse_ip("fe80::1%eth0") == int(ipaddress.IPv6Address("fe80::1"))  # zone-scoped
    for bad in ("junk", "", None, "1.2.3", "300.1.2.3", "1.2.3.4/24", "::zz"):
        assert truth.parse_ip(bad) is None


def test_truth_matches_brute_force(tiny):
    u, snaps, truths, _d = tiny
    rng = np.random.default_rng(3)
    ips = gen.random_ips(rng, u, 3000) + ["junk", "2002:0102:0304::1", "fe80::1%eth0", "240.0.0.1"]
    for s in snaps:
        t = truths[s["date"]]
        kinds = {"miss": 0, "hit": 0, "nested": 0}
        for ip in ips:
            v = truth.parse_ip(ip)
            geo, net = t.lookup(v)
            if v is None:
                assert geo is None and net is None
                continue
            g = brute_winner(s["geo_rows"], v)
            a = brute_winner(s["asn_rows"], v)
            assert (geo is None) == (g is None)
            if g is not None:
                assert geo == t.geo_payload[g]
                covering = sum(r[0] <= v <= r[1] for r in s["geo_rows"])
                kinds["nested" if covering > 1 else "hit"] += 1
            else:
                kinds["miss"] += 1
            assert (net is None) == (a is None)
            if a is not None:
                assert net[0] == s["asn_rows"][a][4]
        # the sample exercises every case the workloads rely on
        assert all(kinds.values()), kinds


def test_merged_cidr_and_fallbacks():
    base = V4M | int(ipaddress.IPv4Address("10.0.0.0"))
    asn_rows = [
        (base, base + 255, "10.0.0.0", 24, "100"),
        (base + 256, base + 511, "10.0.1.0", 24, "100"),  # adjacent, same AS: merges
        (base + 512, base + 767, "10.0.2.0", 24, "200_300,400"),
    ]
    locs = [{"geoname_id": 5, "continent_code": "EU", "country_code": "AA", "country_name": "Aa",
             "sub1_iso": "", "sub1_name": "", "sub2_iso": "", "sub2_name": "", "city": "",
             "metro_code": 0, "eu": 1},
            {"geoname_id": 6, "continent_code": "AS", "country_code": "BB", "country_name": "Bb",
             "sub1_iso": "X", "sub1_name": "Xx", "sub2_iso": "", "sub2_name": "", "city": "C",
             "metro_code": 7, "eu": 0}]
    geo_rows = [
        (base, base + 1023, "10.0.0.0/22", "", "6", "", 1.5, 2.5),         # registered fallback
        (base + 256, base + 511, "10.0.1.0/24", "999", "998", "", 3.5, 4.5),  # nothing resolves
    ]
    t = truth.SnapshotTruth(dt.date(2019, 1, 1), geo_rows, asn_rows, locs, {100: "Hundred"})
    a = t.go_annotation("10.0.0.7")
    assert a["Network"]["CIDR"] == "10.0.0.0/23"
    assert a["Network"]["ASName"] == "Hundred"
    assert a["Geo"]["country_code"] == "BB" and a["Geo"]["metro_code"] == 7
    b = t.go_annotation("10.0.1.9")  # inner row wins; falls back to the first location
    assert b["Geo"]["country_code"] == "AA" and b["Geo"]["radius"] == 1
    c = t.go_annotation("10.0.2.1")
    assert c["Network"]["Systems"] == [{"ASNs": [200]}, {"ASNs": [300, 400]}]
    assert "ASName" not in c["Network"]
    assert t.go_annotation("10.0.9.9") == {"Geo": {"Missing": True}, "Network": {"Missing": True}}


def test_asof_rule():
    dates = [dt.date(2019, 1, 1), dt.date(2019, 2, 1)]
    assert truth.asof_date(dt.datetime(2018, 5, 1), dates) == dates[0]  # before first: first
    assert truth.asof_date(dt.datetime(2019, 2, 1), dates) == dates[0]  # strict at midnight
    assert truth.asof_date(dt.datetime(2019, 2, 1, 0, 0, 1), dates) == dates[1]


def test_checker_flags_corrupted_document(tiny):
    u, snaps, truths, _d = tiny
    rng = np.random.default_rng(5)
    req = gen.request_bodies(rng, u, 1, [s["date"] for s in snaps])[0]
    want = truth.expected_document(req, truths, list(truths))
    got = {"AnnotatorDate": want["AnnotatorDate"], "Annotations": {k: dict(v) for k, v in want["Annotations"].items()}}
    assert got == want
    ip = req["ips"][0]
    got["Annotations"][ip] = {"Geo": {"city": "Corrupted"}, "Network": {"CIDR": "1.2.3.0/24"}}
    assert got != want
    assert ip in _first_diff(got, want)
    assert "AnnotatorDate" in _first_diff(dict(want, AnnotatorDate="1999-01-01T00:00:00Z"), want)


def test_checker_flags_corrupted_bulk_row():
    pa = pytest.importorskip("pyarrow")
    rows = [(False, "AA", "", "", 1.5, 2.5, False, "10.0.0.0/23", 100, "Hundred"),
            (True, "", "", "", 0.0, 0.0, True, "", None, "")]
    day = dt.date(2019, 1, 1)
    expected = {"rows": rows, "date": [day, day]}

    def table(rs):
        cols = list(zip(*rs))
        data = {"pid": [0, 1], "dataset_date": [day, day]}
        data.update({name: list(c) for name, c in zip(
            ("missing", "country_code", "city", "postal_code", "latitude", "longitude",
             "net_missing", "cidr", "as_number", "as_name"), cols)})
        return pa.table(data)

    assert compare_bulk(table(rows), expected) is None
    bad = [rows[0][:7] + ("10.0.0.0/24",) + rows[0][8:], rows[1]]
    assert "pid 0" in compare_bulk(table(bad), expected)


def test_generator_is_deterministic(tmp_path):
    digests = []
    for run in ("a", "b"):
        u = gen.Universe(11, n_v4_16=5, n_v6_32=3, n_loc=30)
        s = gen.write_snapshot(u, 1, dt.date(2019, 2, 1), str(tmp_path / run))
        h = hashlib.sha256()
        for key in sorted(s["paths"]):
            with open(s["paths"][key], "rb") as fh:
                h.update(fh.read())
        h.update(u.asnames_csv().encode())
        digests.append(h.hexdigest())
    assert digests[0] == digests[1]
    assert os.path.basename(s["paths"]["blocks"]).startswith("20190201T")
    assert os.path.basename(s["paths"]["pfx2as"]) == "routeviews-rv2-20190201-1200.pfx2as"


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(19))) == (None, None)
    assert stats.tail(list(range(20)))[0] == 50.0
    assert stats.tail(list(range(100)))[0] == 90.0
    assert stats.tail(list(range(200)))[0] == 95.0
    assert stats.tail(list(range(1000)))[0] == 99.0
    assert stats.tail(list(range(10000)))[0] == 99.9
    p, v = stats.tail(list(range(100)))
    assert v == pytest.approx(np.percentile(np.arange(100), p))


def test_parse_metric_formats():
    assert parse_metric("5,000") == 5000
    assert parse_metric("12.0 KiB") == 12 * 1024
    assert parse_metric("1.5 s") == 1500
    assert parse_metric("total (min, med, max (stageId: taskId))\n39 ms (3 ms, 13 ms, 14 ms (stage 1.0: task 7))") == 39


def test_self_time_subtracts_children():
    tr = Tracer()
    root = tr.add_span("op", 0.0, 10.0)
    for start, end in ((1.0, 3.0), (2.0, 4.0), (6.0, 7.0)):  # overlapping children
        s = tr.add_span("child", start, end)
        s.parent = root.id
    st = tr.self_times()
    assert st["op"] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st["child"] == pytest.approx(2.0 + 2.0 + 1.0)


def test_corpus_matches_sf01_statistics():
    got = gen.corpus_stats(gen.documents(3, 5000, 0))
    want = gen.SF01_STATS
    for key in ("docs", "vocab", "words_min", "words_max"):
        assert got[key] == want[key], key
    assert got["words_mean"] == pytest.approx(want["words_mean"], rel=0.02)
    assert got["stopword_share"] == pytest.approx(want["stopword_share"], rel=0.05)
    assert got["near_dup_share"] == pytest.approx(want["near_dup_share"], abs=0.01)
    assert got["distinct_text_share"] == pytest.approx(want["distinct_text_share"], abs=0.002)
    for lang, share in want["lang_share"].items():
        assert got["lang_share"][lang] == pytest.approx(share, abs=0.03), lang


def test_rotated_corpus_keeps_stopwords_and_shape():
    a, b = gen.documents(3, 500, 0), gen.documents(3, 500, 13)
    assert gen.corpus_stats(a) == gen.corpus_stats(b)
    words_a = set(" ".join(a.column("text").to_pylist()).split())
    words_b = set(" ".join(b.column("text").to_pylist()).split())
    assert words_a & words_b == set(gen.STOPWORDS) | {gen.DUP_MARK}
    assert [len(t) for t in a.column("text").to_pylist()] == [len(t) for t in b.column("text").to_pylist()]


def test_coverage_leaves_out_catch_all_spans():
    tr = Tracer()
    tr.add_span("process.start", 0.0, 2.0)  # imports: not a layer
    tr.add_span("get_session", 2.0, 4.0)  # a leaf root names its layer
    op = tr.add_span("op.request", 4.0, 10.0)  # container: its glue is not a layer
    child = tr.add_span("annotate", 5.0, 9.0)
    child.parent = op.id
    assert tr.coverage(thread=threading.current_thread().name) == pytest.approx((2.0 + 4.0) / 10.0)


def test_parallel_children_count_once():
    tr = Tracer()
    root = tr.add_span("op", 0.0, 10.0)
    for name, start, end in (("geo", 1.0, 6.0), ("asn", 2.0, 4.0), ("late", 5.0, 8.0)):
        s = tr.add_span(name, start, end)
        s.parent = root.id
    assert tr.self_times()["op"] == pytest.approx(10.0 - 7.0)
    assert tr.coverage(thread=threading.current_thread().name) == pytest.approx(7.0 / 10.0)
