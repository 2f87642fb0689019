"""Independent ground truth for annotate: a pure-numpy innermost-wins
reference over the generated rows. Nothing here imports the program.

Semantics reproduced (the reference service's, which the program
claims): rows are painted in file order, so a later (inner) block wins
inside its span; adjacent flattened ranges with equal AS strings merge
and the network CIDR is derived from the merged range
(32/128 - popcount(low ^ high)); text parses like Go's net.ParseIP
plus zone-scoped v6; 2002::/16 probes are rewritten to their embedded
v4; the as-of rule picks the last snapshot strictly before the request
time, falling back to the first snapshot.
"""

from __future__ import annotations

import bisect
import datetime as dt
import ipaddress

import numpy as np

V4_MAPPED = 0xFFFF << 32


def parse_ip(text) -> int | None:
    """Canonical 128-bit int (v4 as ::ffff:a.b.c.d) after the 6to4
    rewrite, or None when the text is not an address."""
    if not text:
        return None
    try:
        addr = ipaddress.ip_address(text.strip())
    except ValueError:
        return None
    v = int(addr) if addr.version == 6 else V4_MAPPED | int(addr)
    if v >> 112 == 0x2002:
        v = V4_MAPPED | ((v >> 80) & 0xFFFFFFFF)
    return v


class Painted:
    """Elementary segments of one table with the winning row index."""

    def __init__(self, lows: list[int], highs: list[int], merge_key: list | None = None):
        bounds = sorted(set(lows) | {h + 1 for h in highs})
        pos = {b: i for i, b in enumerate(bounds)}
        winner = np.full(max(len(bounds) - 1, 0), -1, dtype=np.int64)
        for i, (lo, hi) in enumerate(zip(lows, highs)):
            winner[pos[lo] : pos[hi + 1]] = i
        self.bounds = bounds
        self.winner = winner
        self.run_lo = self.run_hi = None
        if merge_key is not None:
            # merged runs: a run breaks at an uncovered segment or a
            # change of the merge key
            n = len(winner)
            start = np.zeros(n, dtype=np.int64)
            end = np.zeros(n, dtype=np.int64)
            s = 0
            for j in range(n):
                w = winner[j]
                if j == 0 or w < 0 or winner[j - 1] < 0 or merge_key[w] != merge_key[winner[j - 1]]:
                    s = j
                start[j] = s
            e = n - 1
            for j in range(n - 1, -1, -1):
                w = winner[j]
                if j == n - 1 or w < 0 or winner[j + 1] < 0 or merge_key[w] != merge_key[winner[j + 1]]:
                    e = j
                end[j] = e
            self.run_lo, self.run_hi = start, end

    def segment(self, v: int) -> int:
        """Index of the covered elementary segment holding v, else -1."""
        j = bisect.bisect_right(self.bounds, v) - 1
        if j < 0 or j >= len(self.winner) or self.winner[j] < 0:
            return -1
        return j

    def merged_range(self, j: int) -> tuple[int, int]:
        return self.bounds[self.run_lo[j]], self.bounds[self.run_hi[j] + 1] - 1


def cidr_of(lo: int, hi: int) -> str:
    v4 = lo >> 32 == 0xFFFF
    mask = (32 if v4 else 128) - bin(lo ^ hi).count("1")
    base = ipaddress.IPv4Address(lo & 0xFFFFFFFF) if v4 else ipaddress.IPv6Address(lo)
    return f"{base}/{mask}"


def decode_as(s: str) -> list[list[int]]:
    out = []
    for system in s.split("_"):
        asns = []
        for x in system.split(","):
            try:
                asns.append(int(x))
            except ValueError:
                asns.append(0)
        out.append(asns)
    return out


def _nz(d: dict) -> dict:
    """Go's omitempty: drop "", 0, 0.0, False and None."""
    return {k: v for k, v in d.items() if v not in ("", 0, 0.0, False, None)}


class SnapshotTruth:
    """Expected annotations for one snapshot's geo + asn rows."""

    def __init__(self, date: dt.date, geo_rows: list[tuple], asn_rows: list[tuple], locations: list[dict], asnames: dict):
        self.date = date
        self.locs = {loc["geoname_id"]: loc for loc in locations}
        default_gid = locations[0]["geoname_id"]
        self.geo_payload = []
        for _lo, _hi, _net, gid, reg, postal, lat, lon in geo_rows:
            if gid and int(gid) in self.locs:
                g = int(gid)
            elif reg and int(reg) in self.locs:
                g = int(reg)
            else:
                g = default_gid
            self.geo_payload.append((g, postal, float(lat), float(lon)))
        self.geo = Painted([r[0] for r in geo_rows], [r[1] for r in geo_rows])
        self.as_strings = [r[4] for r in asn_rows]
        self.asn = Painted([r[0] for r in asn_rows], [r[1] for r in asn_rows], merge_key=self.as_strings)
        self.asnames = asnames

    def lookup(self, v: int | None) -> tuple[tuple | None, tuple | None]:
        """((gid, postal, lat, lon) | None, (as_string, cidr) | None)."""
        if v is None:
            return None, None
        j = self.geo.segment(v)
        geo = self.geo_payload[self.geo.winner[j]] if j >= 0 else None
        k = self.asn.segment(v)
        net = None
        if k >= 0:
            lo, hi = self.asn.merged_range(k)
            net = (self.as_strings[self.asn.winner[k]], cidr_of(lo, hi))
        return geo, net

    def go_annotation(self, text: str) -> dict:
        """{"Geo": ..., "Network": ...} as the v2 document marshals it."""
        geo, net = self.lookup(parse_ip(text))
        if geo is None:
            g = {"Missing": True}
        else:
            gid, postal, lat, lon = geo
            loc = self.locs[gid]
            g = _nz(
                {
                    "continent_code": loc["continent_code"],
                    "country_code": loc["country_code"],
                    "country_name": loc["country_name"],
                    "region": loc["sub1_iso"],
                    "Subdivision1ISOCode": loc["sub1_iso"],
                    "Subdivision1Name": loc["sub1_name"],
                    "Subdivision2ISOCode": loc["sub2_iso"],
                    "Subdivision2Name": loc["sub2_name"],
                    "metro_code": loc["metro_code"],
                    "city": loc["city"],
                    "postal_code": postal,
                    "latitude": lat,
                    "longitude": lon,
                    "radius": loc["eu"],
                }
            )
        if net is None:
            n = {"Missing": True}
        else:
            as_string, cidr = net
            systems = decode_as(as_string)
            best = systems[0][0]
            n = _nz({"CIDR": cidr, "ASNumber": best, "ASName": self.asnames.get(best, "")})
            n["Systems"] = [{"ASNs": s} for s in systems]
        return {"Geo": g, "Network": n}

    def flat_annotation(self, text: str) -> tuple:
        """The bulk output's checked columns: (geo.missing, gid-derived
        country_code, city, postal_code, latitude, longitude,
        network.missing, cidr, as_number, as_name)."""
        geo, net = self.lookup(parse_ip(text))
        if geo is None:
            g = (True, "", "", "", 0.0, 0.0)
        else:
            gid, postal, lat, lon = geo
            loc = self.locs[gid]
            g = (False, loc["country_code"], loc["city"], postal, lat, lon)
        if net is None:
            n = (True, "", None, "")
        else:
            as_string, cidr = net
            best = decode_as(as_string)[0][0]
            n = (False, cidr, best, self.asnames.get(best, ""))
        return g + n


def asof_date(ts: dt.datetime, dates: list[dt.date]) -> dt.date:
    """Last snapshot strictly before ts (dates are at midnight), else the first."""
    chosen = dates[0]
    for d in sorted(dates):
        if dt.datetime(d.year, d.month, d.day) < ts:
            chosen = d
    return chosen


def expected_document(req: dict, truths: dict, dates: list[dt.date]) -> dict:
    """The v2 response document a request must get, given the snapshot
    dates its reader could see. v1 batches use the first item's time."""
    d = asof_date(req["ts"], dates)
    t = truths[d]
    return {
        "AnnotatorDate": f"{d.isoformat()}T00:00:00Z",
        "Annotations": {ip: t.go_annotation(ip) for ip in req["ips"]},
    }
