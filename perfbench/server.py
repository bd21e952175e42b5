"""Loopback provider server: the five provider APIs' response shapes,
rendered from ``perfbench.gen.provider_records``.

Routes (paths and year parameters as ``providers.http`` builds them):

- World Bank  ``/v2/country/{iso3}/indicator/{id}?per_page=&page=&date=A:B``
  paged JSON ``[meta, data]``, page size ``min(per_page, WB_PAGE_ROWS)``
- WHO GHO     ``/api/{code}?$filter=SpatialDim eq 'X' and TimeDim ge A and TimeDim le B``
- FAOSTAT     ``/api/v1/en/data/{dataset}?area={code}&year_start=&year_end=``
- UNHCR       ``/population/v1/population/?coo|coa={iso3}&yearFrom=&yearTo=``
- ILO SDMX    ``/rest/data/ILO,DF_{id}/{iso3}.A{suffix}?startPeriod=&endPeriod=``
  (404 unless the suffix is ``gen.ILO_SUFFIX_INDEX`` + 1 dots)

``/__stats`` returns the counters (requests, bytes, data rows sent,
peak in-flight) and ``/__reset`` zeroes them; neither is counted.
Every counted request sleeps ``DELAY_MS`` first, standing in for the
network and the remote service.

Run: ``python3 -m perfbench.server --seed 7``; it prints ``PORT <n>``
once listening on a free port of 127.0.0.1.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlsplit

from perfbench import gen

_WB = re.compile(r"^/v2/country/([A-Z]{3})/indicator/([^/]+)$")
_WHO = re.compile(r"^/api/([^/]+)$")
_FAO = re.compile(r"^/api/v1/en/data/([^/]+)$")
_UNHCR = "/population/v1/population/"
_ILO = re.compile(r"^/rest/data/ILO,DF_([^/]+)/([A-Z]{3})\.A(\.+)$")
_WHO_SPATIAL = re.compile(r"SpatialDim eq '([A-Z]{3})'")
_WHO_GE = re.compile(r"TimeDim ge (\d+)")
_WHO_LE = re.compile(r"TimeDim le (\d+)")

DELAY_MS = 5.0


def _int(q: dict, key: str) -> int:
    v = q.get(key)
    return int(v[0]) if v else 0


def parse_year_range(provider: str, query: dict) -> tuple[int, int]:
    """The (start, end) year range a provider URL asks for, 0 meaning
    unbounded. ``query`` is ``parse_qs`` of the raw query string."""
    if provider == "worldbank":
        date = query.get("date")
        if not date:
            return 0, 0
        a, b = date[0].split(":")
        return int(a), int(b)
    if provider == "who":
        flt = query.get("$filter", [""])[0]
        ge, le = _WHO_GE.search(flt), _WHO_LE.search(flt)
        return (int(ge.group(1)) if ge else 0), (int(le.group(1)) if le else 0)
    keys = {"fao": ("year_start", "year_end"), "unhcr": ("yearFrom", "yearTo"),
            "ilo": ("startPeriod", "endPeriod")}[provider]
    return _int(query, keys[0]), _int(query, keys[1])


def _keep(year: int, rng: tuple[int, int]) -> bool:
    return (rng[0] <= 0 or year >= rng[0]) and (rng[1] <= 0 or year <= rng[1])


def render(seed: int, path: str, query: dict) -> tuple[int, object, int]:
    """(status, JSON document, data rows in it) for one request."""
    m = _WB.match(path)
    if m:
        iso3, ind = m.group(1), m.group(2)
        rng = parse_year_range("worldbank", query)
        recs = [r for r in gen.provider_records(seed, "worldbank", ind, iso3) if _keep(r["year"], rng)]
        per_page = min(_int(query, "per_page") or gen.WB_PAGE_ROWS, gen.WB_PAGE_ROWS)
        page = max(1, _int(query, "page"))
        pages = max(1, -(-len(recs) // per_page))
        chunk = recs[(page - 1) * per_page: page * per_page]
        meta = {"page": page, "pages": pages, "per_page": per_page, "total": len(recs)}
        data = [
            {"indicator": {"id": ind, "value": gen.wb_indicator_name(ind)},
             "country": {"id": iso3, "value": gen.COUNTRY_NAMES[iso3]},
             "countryiso3code": iso3, "date": str(r["year"]), "value": r["value"]}
            for r in chunk
        ]
        return 200, [meta, data], len(data)
    m = _FAO.match(path)
    if m:
        dataset = m.group(1)
        iso3 = gen.FAO_AREA_ISO3.get(query.get("area", [""])[0])
        if iso3 is None:
            return 404, {"error": "unknown area"}, 0
        rng = parse_year_range("fao", query)
        limit = _int(query, "limit") or 500
        recs = [r for r in gen.provider_records(seed, "fao", dataset, iso3) if _keep(r["year"], rng)][:limit]
        data = [
            {"Area": gen.COUNTRY_NAMES[iso3], "Item": r["item"], "Element": r["element"],
             "Year": str(r["year"]), "Value": r["value"], "Unit": r["unit"]}
            for r in recs
        ]
        return 200, {"data": data}, len(data)
    if path == _UNHCR:
        side = "coo" if "coo" in query else "coa"
        iso3 = query.get(side, [""])[0]
        if iso3 not in gen.COUNTRY_NAMES:
            return 404, {"error": "unknown country"}, 0
        rng = parse_year_range("unhcr", query)
        items = []
        for r in gen.provider_records(seed, "unhcr", side, iso3):
            if not _keep(r["year"], rng):
                continue
            coo, coa = (iso3, r["other"]) if side == "coo" else (r["other"], iso3)
            item = {"year": r["year"], "coo_iso": coo, "coo_name": gen.COUNTRY_NAMES[coo],
                    "coa_iso": coa, "coa_name": gen.COUNTRY_NAMES[coa]}
            item.update({f: r[f] for f in gen.UNHCR_FIELDS})
            items.append(item)
        return 200, {"items": items}, len(items)
    m = _ILO.match(path)
    if m:
        ind, iso3, dots = m.group(1), m.group(2), m.group(3)
        if len(dots) != gen.ILO_SUFFIX_INDEX + 1:
            return 404, {"error": "no such key"}, 0
        rng = parse_year_range("ilo", query)
        last_n = _int(query, "lastNObservations")
        series: dict[tuple[str, str], list[dict]] = {}
        for r in gen.provider_records(seed, "ilo", ind, iso3):
            series.setdefault((r["sex"], r["age"]), []).append(r)
        years = sorted({r["year"] for recs in series.values() for r in recs})
        out_series, n = {}, 0
        for (sex, age), recs in series.items():
            recs = sorted(recs, key=lambda r: r["year"])
            if last_n:
                recs = recs[-last_n:]
            obs = {str(years.index(r["year"])): [r["value"]] for r in recs if _keep(r["year"], rng)}
            n += len(obs)
            key = f"0:{gen.ILO_SEXES.index(sex)}:{gen.ILO_AGES.index(age)}"
            out_series[key] = {"observations": obs}
        doc = {
            "data": {
                "dataSets": [{"series": out_series}],
                "structures": [{
                    "dimensions": {
                        "series": [
                            {"id": "REF_AREA", "values": [{"id": iso3}]},
                            {"id": "SEX", "values": [{"id": s} for s in gen.ILO_SEXES]},
                            {"id": "AGE", "values": [{"id": a} for a in gen.ILO_AGES]},
                        ],
                        "observation": [{"id": "TIME_PERIOD", "values": [{"id": str(y)} for y in years]}],
                    }
                }],
            }
        }
        return 200, doc, n
    m = _WHO.match(path)
    if m:
        ind = m.group(1)
        flt = query.get("$filter", [""])[0]
        spatial = _WHO_SPATIAL.search(flt)
        if not spatial:
            return 404, {"error": "missing SpatialDim"}, 0
        iso3 = spatial.group(1)
        rng = parse_year_range("who", query)
        value = [
            {"IndicatorCode": ind, "SpatialDim": iso3, "TimeDim": r["year"], "Dim1": r["sex"],
             "NumericValue": r["value"], "ParentLocation": "Africa"}
            for r in gen.provider_records(seed, "who", ind, iso3) if _keep(r["year"], rng)
        ]
        return 200, {"value": value}, len(value)
    return 404, {"error": "no route"}, 0


class Counters:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.requests = 0
            self.not_found = 0
            self.bytes = 0
            self.rows = 0
            self.inflight = 0
            self.max_inflight = 0

    def enter(self) -> None:
        with self._lock:
            self.requests += 1
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)

    def leave(self, status: int, nbytes: int, rows: int) -> None:
        with self._lock:
            self.inflight -= 1
            self.bytes += nbytes
            self.rows += rows
            if status == 404:
                self.not_found += 1

    def snapshot(self) -> dict:
        with self._lock:
            return {"requests": self.requests, "not_found": self.not_found, "bytes": self.bytes,
                    "rows": self.rows, "max_inflight": self.max_inflight}


def make_handler(seed: int, delay_s: float, counters: Counters):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:
            pass

        def _send(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:
            parts = urlsplit(self.path)
            if parts.path == "/__stats":
                self._send(200, json.dumps(counters.snapshot()).encode())
                return
            if parts.path == "/__reset":
                counters.reset()
                self._send(200, b"{}")
                return
            counters.enter()
            status, nbytes, rows = 500, 0, 0
            try:
                time.sleep(delay_s)
                status, doc, rows = render(seed, unquote(parts.path), parse_qs(parts.query))
                body = json.dumps(doc).encode()
                nbytes = len(body)
            finally:
                # counted before the reply goes out: a client holding its
                # reply finds it in the stats
                counters.leave(status, nbytes, rows if status == 200 else 0)
            self._send(status, body)

    return Handler


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(args.seed, DELAY_MS / 1000.0, Counters()))
    server.daemon_threads = True
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
