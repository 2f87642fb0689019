"""Seeded generator for the benchmark's raw inputs.

Everything the program sees is written here from ``numpy`` random
streams keyed by the seed: GeoLite2 Blocks/Locations CSV, RouteViews
pfx2as TSV, an ipinfo-style asnames CSV (all with dated filenames that
``sources.registry`` parses), probe tables, v2/v1 request bodies and a
document corpus for the curation gates. The same seed gives
byte-identical files. Generation is the benchmark's own work and is
never timed.

Data shape, chosen to cover the annotate semantics that matter:
- v4 blocks nested /16 -> /24 (innermost wins), plus disjoint /20-/24;
- v6 blocks from /32 to /65, some nested, several crossing the 64-bit
  word boundary (prefix < 64 and /65 splits inside the low word);
- geo rows whose geoname_id is empty or unknown (registered-country
  fallback), and rows where both ids are unknown (first-location
  default);
- pfx2as rows with multi-origin AS strings ("A_B,C"), nested prefixes
  and adjacent prefixes with equal AS strings (flatten merges them);
- later snapshots edit, drop and add rows, so as-of selection shows.
"""

from __future__ import annotations

import datetime as dt
import ipaddress
import json
import os

import numpy as np

V4_MAPPED = 0xFFFF << 32

LOCATIONS_HEADER = (
    "geoname_id,locale_code,continent_code,continent_name,country_iso_code,"
    "country_name,subdivision_1_iso_code,subdivision_1_name,"
    "subdivision_2_iso_code,subdivision_2_name,city_name,metro_code,"
    "time_zone,is_in_european_union"
)
BLOCKS_HEADER = (
    "network,geoname_id,registered_country_geoname_id,"
    "represented_country_geoname_id,is_anonymous_proxy,"
    "is_satellite_provider,postal_code,latitude,longitude,accuracy_radius"
)
CONTINENTS = ["AF", "AN", "AS", "EU", "NA", "OC", "SA"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
UPPER = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
MALFORMED = ["junk", "1.2.3", "300.1.2.3", "1.2.3.4.5", "::zz", "", "1.2.3.4/24"]
IP_COUNT_BUCKETS = [1, 5, 20, 100, 400]
BASE_DATE = dt.date(2019, 1, 1)


def snapshot_dates(n: int) -> list[dt.date]:
    """Monthly snapshot dates starting at BASE_DATE."""
    out = []
    y, m = BASE_DATE.year, BASE_DATE.month
    for _ in range(n):
        out.append(dt.date(y, m, 1))
        m += 1
        if m > 12:
            y, m = y + 1, 1
    return out


def _word(rng) -> str:
    return "".join(rng.choice(LETTERS, rng.integers(4, 9))).capitalize()


def v4_cidr(base: int, plen: int) -> str:
    return f"{ipaddress.IPv4Address(base)}/{plen}"


def v6_cidr(base: int, plen: int) -> str:
    return f"{ipaddress.IPv6Address(base)}/{plen}"


class Universe:
    """The address plan shared by all snapshots of one seed: which /16s
    (v4) and /32s (v6) are allocated, the locations table and the AS
    numbering. Snapshots are derived from it."""

    def __init__(self, seed: int, n_v4_16: int, n_v6_32: int, n_loc: int = 1500):
        self.seed = seed
        rng = np.random.default_rng([seed, 1])
        # v4: /16 prefixes in 1.0/16 .. 199.255/16, minus 6to4-sensitive
        # and special space; /16 index = first two octets
        pool = 256 + rng.choice(199 * 256, size=n_v4_16, replace=False)
        self.v4_16 = sorted(int(x) for x in pool)
        # unallocated /16s used for guaranteed misses
        alloc = set(self.v4_16)
        miss = [x for x in 256 + rng.choice(199 * 256, size=4 * n_v4_16) if int(x) not in alloc]
        self.v4_miss_16 = sorted(set(int(x) for x in miss))[: max(8, n_v4_16 // 4)]
        # v6: /32s under 2400::/8 .. 2a00::/8 (never 2002::/16 or ::ffff:0:0/96)
        v6 = 0x2400_0000 + rng.choice(0x0700_0000, size=n_v6_32 * 2, replace=False)
        v6 = sorted(int(x) for x in v6)
        self.v6_32 = v6[:n_v6_32]
        self.v6_miss_32 = v6[n_v6_32:]
        # per /32: nested shape (parent /32 + /48 + /64 children) or
        # word-boundary shape (/44../65 around one random /40)
        self.v6_plan = {}
        for p32 in self.v6_32:
            if rng.random() < 0.3:
                subs = [int(c) << 80 for c in sorted(rng.choice(1 << 16, size=3, replace=False))]
                subs = [(s, s + (int(rng.integers(1 << 16)) << 64)) for s in subs]
                self.v6_plan[p32] = ("nested", subs)
            else:
                self.v6_plan[p32] = ("boundary", int(rng.integers(1 << 8)) << 88)
        # locations
        ids = 100_000 + rng.choice(8_900_000, size=n_loc, replace=False)
        self.loc_ids = [int(x) for x in ids]
        self.locations = []
        for gid in self.loc_ids:
            cc = "".join(rng.choice(UPPER, 2))
            sub1 = "".join(rng.choice(UPPER, 2)) if rng.random() < 0.7 else ""
            sub2 = "".join(rng.choice(UPPER, 3)) if rng.random() < 0.15 else ""
            self.locations.append(
                {
                    "geoname_id": gid,
                    "continent_code": CONTINENTS[rng.integers(len(CONTINENTS))],
                    "country_code": cc,
                    "country_name": _word(rng) + (" " + _word(rng) if rng.random() < 0.3 else ""),
                    "sub1_iso": sub1,
                    "sub1_name": _word(rng) if sub1 else "",
                    "sub2_iso": sub2,
                    "sub2_name": _word(rng) if sub2 else "",
                    "city": _word(rng) if rng.random() < 0.8 else "",
                    "metro_code": int(rng.integers(500, 900)) if rng.random() < 0.2 else 0,
                    "eu": int(rng.random() < 0.3),
                }
            )
        self.asns = [int(x) for x in 1000 + rng.choice(399_000, size=max(64, n_v4_16), replace=False)]
        self.asnames = {}
        for a in self.asns:
            if rng.random() < 0.85:
                name = _word(rng) + " " + _word(rng)
                if rng.random() < 0.1:
                    name += ", Inc."  # quoted field with a comma
                self.asnames[a] = name

    # -- files -----------------------------------------------------------
    def locations_csv(self) -> str:
        lines = [LOCATIONS_HEADER]
        for loc in self.locations:
            lines.append(
                ",".join(
                    [
                        str(loc["geoname_id"]),
                        "en",
                        loc["continent_code"],
                        "Continent" + loc["continent_code"].lower(),
                        loc["country_code"],
                        loc["country_name"],
                        loc["sub1_iso"],
                        loc["sub1_name"],
                        loc["sub2_iso"],
                        loc["sub2_name"],
                        loc["city"],
                        str(loc["metro_code"]) if loc["metro_code"] else "",
                        "Zone/" + loc["country_code"],
                        str(loc["eu"]),
                    ]
                )
            )
        return "\n".join(lines) + "\n"

    def asnames_csv(self) -> str:
        lines = ["asn,name,country,registry"]
        for a in self.asns:
            if a in self.asnames:
                lines.append(f'AS{a},"{self.asnames[a]}",US,arin')
        return "\n".join(lines) + "\n"


def _geo_payload(rng, u: Universe) -> tuple[str, str, str, float, float]:
    """(geoname_id, registered_id, postal, lat, lon) text/values with
    the fallback mix: 90% direct, 5% empty id + registered, 3% unknown
    id + registered, 2% nothing resolvable (first-location default)."""
    r = rng.random()
    loc = str(u.loc_ids[rng.integers(len(u.loc_ids))])
    reg = str(u.loc_ids[rng.integers(len(u.loc_ids))])
    if r < 0.90:
        gid = loc
    elif r < 0.95:
        gid = ""
    elif r < 0.98:
        gid = str(9_500_000 + int(rng.integers(100_000)))
    else:
        gid = ""
        reg = str(9_700_000 + int(rng.integers(100_000)))
    postal = str(int(rng.integers(10000, 99999))) if rng.random() < 0.5 else ""
    lat = round(float(rng.uniform(-60, 70)), 4) or 1.5
    lon = round(float(rng.uniform(-179, 179)), 4) or 2.5
    return gid, reg, postal, lat, lon


def geo_blocks(u: Universe, snap_idx: int) -> list[tuple]:
    """Blocks rows of snapshot ``snap_idx`` in network order (parents
    before their children, so later = inner, like MaxMind files):
    (low_int, high_int, network_text, gid, reg, postal, lat, lon)."""
    rng = np.random.default_rng([u.seed, 2])
    rows = []
    for p16 in u.v4_16:
        base = p16 << 16
        shape = rng.random()
        if shape < 0.35:  # /16 parent with nested /24 children
            rows.append((base, 16, _geo_payload(rng, u)))
            for c in sorted(rng.choice(256, size=int(rng.integers(1, 6)), replace=False)):
                rows.append((base + (int(c) << 8), 24, _geo_payload(rng, u)))
        else:  # disjoint /20../24 blocks
            off = 0
            while off < 65536:
                # the largest block the current offset is aligned to
                minp = 20 if off == 0 else max(20, 32 - ((off & -off).bit_length() - 1))
                plen = int(rng.integers(minp, 25))
                size = 1 << (32 - plen)
                if rng.random() < 0.97:
                    rows.append((base + off, plen, _geo_payload(rng, u)))
                off += size
    v6_rows = []
    for p32 in u.v6_32:
        base = p32 << 96
        shape, plan = u.v6_plan[p32]
        if shape == "nested":  # /32 parent + nested /48 and /64 children
            v6_rows.append((base, 32, _geo_payload(rng, u)))
            for s48, s64 in plan:
                v6_rows.append((base + s48, 48, _geo_payload(rng, u)))
                v6_rows.append((base + s64, 64, _geo_payload(rng, u)))
        else:  # blocks around the 64-bit word boundary, nested in each other
            for plen in (44, 56, 60, 63, 65):
                v6_rows.append((base + plan, plen, _geo_payload(rng, u)))
    # per-snapshot edits: later snapshots change ~6%, drop ~2%, keep the rest
    srng = np.random.default_rng([u.seed, 3, snap_idx])
    out = []
    for family, rs in (("v4", rows), ("v6", sorted(v6_rows, key=lambda r: (r[0], r[1])))):
        for base, plen, pay in rs:
            if snap_idx:
                r = srng.random()
                if r < 0.02:
                    continue
                if r < 0.08:
                    pay = _geo_payload(srng, u)
            if family == "v4":
                lo = V4_MAPPED | base
                hi = lo | ((1 << (32 - plen)) - 1)
                net = v4_cidr(base, plen)
            else:
                lo = base
                hi = lo | ((1 << (128 - plen)) - 1)
                net = v6_cidr(base, plen)
            out.append((lo, hi, net) + pay)
    return out


def blocks_csv(rows: list[tuple]) -> str:
    lines = [BLOCKS_HEADER]
    for _lo, _hi, net, gid, reg, postal, lat, lon in rows:
        lines.append(f"{net},{gid},{reg},,0,0,{postal},{lat},{lon},100")
    return "\n".join(lines) + "\n"


def _as_string(rng, u: Universe) -> str:
    a = lambda: str(u.asns[rng.integers(len(u.asns))])  # noqa: E731
    r = rng.random()
    if r < 0.9:
        return a()
    if r < 0.95:
        return a() + "_" + a()
    return a() + "_" + a() + "," + a()


def asn_rows(u: Universe, snap_idx: int) -> list[tuple]:
    """pfx2as rows (low, high, prefix_text, plen, as_string) in prefix
    order. Covers ~90% of the geo /16s, so some geo hits miss on ASN."""
    rng = np.random.default_rng([u.seed, 4])
    rows = []
    for p16 in u.v4_16:
        if rng.random() < 0.03:
            continue
        base = p16 << 16
        if rng.random() < 0.4:  # /16 with nested /24s, one equal to the parent
            parent = _as_string(rng, u)
            rows.append((base, 16, parent))
            cs = sorted(rng.choice(256, size=int(rng.integers(2, 6)), replace=False))
            for i, c in enumerate(cs):
                rows.append((base + (int(c) << 8), 24, parent if i == 0 else _as_string(rng, u)))
        else:  # adjacent /18s, neighbours often share the AS (merge)
            s = _as_string(rng, u)
            for q in range(4):
                if rng.random() < 0.5:
                    s = _as_string(rng, u)
                rows.append((base + (q << 14), 18, s))
    v6 = []
    for p32 in u.v6_32:
        if rng.random() < 0.15:
            continue
        base = p32 << 96
        v6.append((base, 32, _as_string(rng, u)))
        for c in sorted(rng.choice(1 << 16, size=2, replace=False)):
            v6.append((base + (int(c) << 80), 48, _as_string(rng, u)))
    srng = np.random.default_rng([u.seed, 5, snap_idx])
    out = []
    for family, rs in (("v4", rows), ("v6", v6)):
        for base, plen, s in rs:
            if snap_idx and srng.random() < 0.05:
                s = _as_string(srng, u)
            if family == "v4":
                lo = V4_MAPPED | base
                hi = lo | ((1 << (32 - plen)) - 1)
                txt = str(ipaddress.IPv4Address(base))
            else:
                lo = base
                hi = lo | ((1 << (128 - plen)) - 1)
                txt = str(ipaddress.IPv6Address(base))
            out.append((lo, hi, txt, plen, s))
    return out


def pfx2as_tsv(rows: list[tuple]) -> str:
    return "".join(f"{txt}\t{plen}\t{s}\n" for _lo, _hi, txt, plen, s in rows)


# -- probes ----------------------------------------------------------------

def random_ips(rng, u: Universe, n: int) -> list[str]:
    """Probe mix: ~88% v4 (of all probes ~10% land in unallocated
    space), ~8% native v6, ~3% 6to4, ~1% malformed; a few v4-mapped
    and zone-scoped v6 forms ride in the v6 share."""
    kinds = rng.random(n)
    out = []
    for k in kinds:
        if k < 0.01:
            out.append(MALFORMED[rng.integers(len(MALFORMED))])
        elif k < 0.04:  # 6to4 around an allocated or missing v4
            p16 = u.v4_16[rng.integers(len(u.v4_16))]
            v4 = (p16 << 16) | int(rng.integers(65536))
            out.append(str(ipaddress.IPv6Address((0x2002 << 112) | (v4 << 80) | int(rng.integers(1, 1 << 16)))))
        elif k < 0.12:  # native v6, mostly inside a planned block
            if rng.random() < 0.15:
                p32, anchor = u.v6_miss_32[rng.integers(len(u.v6_miss_32))], 0
            else:
                p32 = u.v6_32[rng.integers(len(u.v6_32))]
                shape, plan = u.v6_plan[p32]
                anchor = plan[rng.integers(len(plan))][rng.integers(2)] if shape == "nested" else plan
            low_bits = int(rng.integers(0, 88))
            addr = (p32 << 96) | anchor | (int(rng.integers(1 << 62)) << 26 | int(rng.integers(1 << 26))) >> low_bits
            r = rng.random()
            if r < 0.03:
                out.append(str(ipaddress.IPv6Address(addr)) + "%eth0")
            else:
                out.append(str(ipaddress.IPv6Address(addr)))
        else:  # v4
            if rng.random() < 0.1:
                p16 = u.v4_miss_16[rng.integers(len(u.v4_miss_16))]
            else:
                p16 = u.v4_16[rng.integers(len(u.v4_16))]
            v4 = (p16 << 16) | int(rng.integers(65536))
            txt = str(ipaddress.IPv4Address(v4))
            if rng.random() < 0.005:
                txt = "::ffff:" + txt
            out.append(txt)
    return out


def random_ts(rng, start: dt.date, end: dt.date) -> dt.datetime:
    """A timestamp uniformly in [start, end), with whole seconds and
    never exactly midnight (the as-of rule is strict at midnight)."""
    days = (end - start).days
    d = start + dt.timedelta(days=int(rng.integers(days)))
    return dt.datetime(d.year, d.month, d.day) + dt.timedelta(seconds=int(rng.integers(1, 86400)))


def iso_z(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def request_bodies(
    rng, u: Universe, n: int, dates: list[dt.date], newest_share: float = 0.8
) -> list[dict]:
    """Closed-loop request stream: v2 bodies (~10% v1 arrays), IP counts
    from the reference batch buckets, distinct IPs per request; ~80%
    dated after the newest snapshot, the rest historical."""
    out = []
    after = dates[-1] + dt.timedelta(days=1)
    for i in range(n):
        k = IP_COUNT_BUCKETS[rng.integers(len(IP_COUNT_BUCKETS))]
        ips = list(dict.fromkeys(random_ips(rng, u, k + 8)))[:k]
        if rng.random() < newest_share:
            ts = random_ts(rng, after, after + dt.timedelta(days=60))
        else:
            ts = random_ts(rng, dates[0] - dt.timedelta(days=20), dates[-1])
        if rng.random() < 0.1:
            items = []
            for j, ip in enumerate(ips):
                its = ts if j == 0 else ts + dt.timedelta(days=int(rng.integers(-40, 40)))
                items.append({"ip": ip, "ip_format": 6 if ":" in ip else 4, "timestamp": iso_z(its)})
            body = json.dumps(items)
            version = "v1"
        else:
            body = json.dumps(
                {"RequestType": "Annotate v2.0", "RequestInfo": f"bench-{i}", "Date": iso_z(ts), "IPs": ips}
            )
            version = "v2"
        out.append({"id": i, "version": version, "ts": ts, "ips": ips, "body": body})
    return out


# -- documents for the curation gates --------------------------------------
#
# The corpora reproduce the sf0.1 ``documents.parquet`` test table the
# curation gates were written against. ``SF01_STATS`` is what
# ``corpus_stats`` reads on that table (5000 documents): every token is
# one of the 30 words of VOCAB, each ~3.3% of tokens, plus the near-copy
# mark "dup"; "the" and "a" are the only stopwords; a document has 10-99
# words drawn uniformly; 5% are a copy of another document with " dup"
# appended (8 pairs of those copies are exact duplicates, having copied
# the same document); source is src{doc_id % 20}; n_chars is the text
# length. The tests check a generated corpus against these figures.
SF01_STATS = {
    "docs": 5000, "vocab": 31, "words_min": 10, "words_max": 99, "words_mean": 54.14,
    "stopword_share": 0.0658, "near_dup_share": 0.050, "distinct_text_share": 0.9984,
    "lang_share": {"de": 0.1404, "en": 0.4118, "es": 0.1488, "fr": 0.1484, "zh": 0.1506},
}

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window data column join small customer query order group filter "
    "big vector stream"
).split()
STOPWORDS = ("the", "a")  # kept as they are by rotation: the quality stages count them
DUP_MARK = "dup"
WORDS_PER_DOC = (10, 99)
NEAR_DUP_SHARE = 0.05
LANGS = {"en": 0.40, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.15}
N_SOURCES = 20


def rotated_vocab(rotate: int) -> list[str]:
    """VOCAB with every letter of the non-stopwords shifted by
    ``rotate`` (alphabet rotation, as bench.py's sf1 replicas); the
    stopwords stay, so stopword density and word lengths do not change."""
    alpha = "abcdefghijklmnopqrstuvwxyz"
    rot = str.maketrans(alpha, alpha[rotate:] + alpha[:rotate])
    return [w if w in STOPWORDS else w.translate(rot) for w in VOCAB]


def documents(seed: int, n_docs: int, rotate: int) -> "pyarrow.Table":  # noqa: F821
    """A corpus in the documents.parquet schema (doc_id, text, lang,
    source, n_chars) with the statistics above. The same seed and size
    with ``rotate`` != 0 give the same corpus with its non-stopword
    tokens rotated: the same work for the gates, disjoint shingles."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 6])
    vocab = np.array(rotated_vocab(rotate))
    lo, hi = WORDS_PER_DOC
    texts = [" ".join(vocab[rng.integers(len(vocab), size=int(rng.integers(lo, hi + 1)))]) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < NEAR_DUP_SHARE):
        texts[i] = texts[int(rng.integers(n_docs))] + " " + DUP_MARK
    langs = rng.choice(list(LANGS), size=n_docs, p=list(LANGS.values()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def corpus_stats(table) -> dict:
    """The figures the corpus generator is set from, for any table in
    the documents.parquet schema."""
    texts = table.column("text").to_pylist()
    words = [t.split(" ") for t in texts]
    n_tokens = sum(len(w) for w in words)
    counts: dict[str, int] = {}
    for ws in words:
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    langs = table.column("lang").to_pylist()
    return {
        "docs": len(texts),
        "vocab": len(counts),
        "words_min": min(len(w) - w.count(DUP_MARK) for w in words),
        "words_max": max(len(w) - w.count(DUP_MARK) for w in words),
        "words_mean": n_tokens / len(texts),
        "stopword_share": sum(counts.get(w, 0) for w in STOPWORDS) / n_tokens,
        "near_dup_share": sum(DUP_MARK in w for w in words) / len(texts),
        "distinct_text_share": len(set(texts)) / len(texts),
        "lang_share": {k: langs.count(k) / len(langs) for k in sorted(set(langs))},
    }


# -- file sets -------------------------------------------------------------

def write_snapshot(u: Universe, snap_idx: int, date: dt.date, raw_dir: str) -> dict:
    """Write one dated Blocks/Locations/pfx2as file set; returns the
    paths and the rows the ground truth needs."""
    os.makedirs(raw_dir, exist_ok=True)
    stamp = date.strftime("%Y%m%d")
    g = geo_blocks(u, snap_idx)
    a = asn_rows(u, snap_idx)
    paths = {
        "blocks": os.path.join(raw_dir, f"{stamp}T000000Z-GeoLite2-City-Blocks.csv"),
        "locations": os.path.join(raw_dir, f"{stamp}T000000Z-GeoLite2-City-Locations-en.csv"),
        "pfx2as": os.path.join(raw_dir, f"routeviews-rv2-{stamp}-1200.pfx2as"),
    }
    for key, text in (
        ("blocks", blocks_csv(g)),
        ("locations", u.locations_csv()),
        ("pfx2as", pfx2as_tsv(a)),
    ):
        tmp = paths[key] + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, paths[key])
    return {"date": date, "paths": paths, "geo_rows": g, "asn_rows": a}
