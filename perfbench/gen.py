"""Seeded input generators.

Everything here is a pure function of its arguments: the loopback
server renders provider JSON from ``provider_records`` and the
benchmark derives the rows each request must return from the same
records, so the server and the output check can never drift apart.
Hashing goes through crc32/sha256, never ``hash()``, whose string
salt changes per process.
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib

from duckdb_sudan__spark.providers.pushdown import YearFilter

COUNTRIES = ("SDN", "EGY", "ETH", "TCD", "SSD", "ERI", "LBY", "CAF")
COUNTRY_NAMES = {
    "SDN": "Sudan", "EGY": "Egypt", "ETH": "Ethiopia", "TCD": "Chad",
    "SSD": "South Sudan", "ERI": "Eritrea", "LBY": "Libya", "CAF": "Central African Republic",
}
# FAOSTAT numeric area code -> ISO3 (the inverse of providers.http.FAO_AREA_CODES)
FAO_AREA_ISO3 = {
    "276": "SDN", "59": "EGY", "238": "ETH", "39": "TCD",
    "277": "SSD", "178": "ERI", "124": "LBY", "37": "CAF",
}
PROVIDERS = ("worldbank", "who", "fao", "unhcr", "ilo")

# generated year spans: every country has data in every year of the span,
# so any request range inside REQUEST_YEARS returns rows for all countries
WB_YEARS = range(1990, 2024)
WHO_YEARS = range(1995, 2024)
FAO_YEARS = range(1995, 2024)
# UNHCR URLs carry no indicator, so provider_cold keeps them unseen with
# distinct year ranges; the long span leaves room for many
UNHCR_YEARS = range(1951, 2024)
ILO_YEARS = range(2004, 2024)  # <= 20 years: lastNObservations=20 never truncates
REQUEST_YEARS = (2005, 2022)

WB_PAGE_ROWS = 10  # server-side page size (WB honours min(per_page, this))
WHO_SEXES = ("BTSX", "MLE", "FMLE")
FAO_ITEMS = ("Sorghum", "Millet", "Wheat")
FAO_ELEMENTS = (("Production", "t"), ("Area harvested", "ha"), ("Yield", "kg/ha"))
# the population fields of a UNHCR item, as the API names them
UNHCR_FIELDS = ("refugees", "idps", "asylum_seekers", "returned_refugees", "stateless", "ooc")
# population types whose API field has another name
UNHCR_API_FIELD = {"returnees": "returned_refugees"}
ILO_SEXES = ("SEX_M", "SEX_F")
ILO_AGES = ("AGE_YTHADULT_Y15-24", "AGE_YTHADULT_YGE25")
# the ILO key suffix ('.' * (k + 1)) the server accepts: the client walks
# the ladder and gets 404s for the k shorter suffixes first
ILO_SUFFIX_INDEX = 2


def stable_seed(*parts: object) -> int:
    return zlib.crc32("\x1f".join(map(str, parts)).encode("utf-8"))


def _rng(*parts: object) -> random.Random:
    return random.Random(stable_seed(*parts))


def _val(r: random.Random, lo: float, hi: float) -> float:
    # 3 decimals: exact through JSON text and back
    return round(r.uniform(lo, hi), 3)


def provider_records(seed: int, provider: str, key: str, iso3: str) -> list[dict]:
    """Source records for one (provider, key, country). ``key`` is the
    indicator (worldbank/who/ilo), the dataset (fao) or the query side
    'coo'/'coa' (unhcr: the URL carries no population type). Each
    record carries a ``year`` field the server filters on."""
    r = _rng(seed, provider, key, iso3)
    out: list[dict] = []
    if provider == "worldbank":
        for y in WB_YEARS:
            out.append({"year": y, "value": _val(r, 1.0, 1000.0)})
    elif provider == "who":
        for y in WHO_YEARS:
            for sex in WHO_SEXES:
                out.append({"year": y, "sex": sex, "value": _val(r, 0.0, 100.0)})
    elif provider == "fao":
        for y in FAO_YEARS:
            for item in FAO_ITEMS:
                for element, unit in FAO_ELEMENTS:
                    out.append({"year": y, "item": item, "element": element, "unit": unit,
                                "value": _val(r, 10.0, 90000.0)})
    elif provider == "unhcr":
        partners = r.sample([c for c in COUNTRIES if c != iso3], 3)
        for y in UNHCR_YEARS:
            for other in partners:
                rec = {"year": y, "other": other}
                for f in UNHCR_FIELDS:
                    # ~1 in 5 zero: the client must skip those rows
                    rec[f] = 0 if r.random() < 0.2 else r.randint(1, 500000)
                out.append(rec)
    elif provider == "ilo":
        for sex in ILO_SEXES:
            for age in ILO_AGES:
                for y in ILO_YEARS:
                    out.append({"year": y, "sex": sex, "age": age, "value": _val(r, 0.0, 100.0)})
    else:
        raise ValueError(f"unknown provider {provider!r}")
    return out


# position of `year` in each provider's output row
YEAR_INDEX = {"worldbank": 4, "who": 3, "fao": 4, "unhcr": 0, "ilo": 4}


def expected_rows(seed: int, provider: str, params: dict, countries, yf: YearFilter) -> list[tuple]:
    """The rows the package must return for one request, in the
    package's output schema, after the year filter."""
    rows: list[tuple] = []
    for iso3 in countries:
        if provider == "worldbank":
            ind = params["indicator"]
            for rec in provider_records(seed, provider, ind, iso3):
                rows.append((ind, wb_indicator_name(ind), iso3, COUNTRY_NAMES[iso3], rec["year"], rec["value"]))
        elif provider == "who":
            ind = params["indicator"]
            for rec in provider_records(seed, provider, ind, iso3):
                rows.append((ind, None, iso3, rec["year"], rec["sex"], rec["value"], "Africa"))
        elif provider == "fao":
            ds, element = params["dataset"], params["element"].lower()
            for rec in provider_records(seed, provider, ds, iso3):
                if element in rec["element"].lower():
                    rows.append((ds, COUNTRY_NAMES[iso3], rec["item"], rec["element"], rec["year"],
                                 rec["value"], rec["unit"]))
        elif provider == "unhcr":
            ptype = params["population_type"]
            field = UNHCR_API_FIELD.get(ptype, ptype)
            for side in ("coo", "coa"):
                for rec in provider_records(seed, provider, side, iso3):
                    if rec[field] == 0:
                        continue
                    coo, coa = (iso3, rec["other"]) if side == "coo" else (rec["other"], iso3)
                    rows.append((rec["year"], field, coo, COUNTRY_NAMES[coo], coa, COUNTRY_NAMES[coa], rec[field]))
        elif provider == "ilo":
            ind = params["indicator"]
            for rec in provider_records(seed, provider, ind, iso3):
                rows.append((ind, iso3, rec["sex"], rec["age"], rec["year"], rec["value"]))
    return [row for row in rows if yf.contains(row[YEAR_INDEX[provider]])]


def wb_indicator_name(indicator: str) -> str:
    return f"Benchmark indicator {indicator}"


def wb_pages(n_rows: int) -> int:
    return max(1, -(-n_rows // WB_PAGE_ROWS))


def urls_needed(seed: int, provider: str, params: dict, countries, yf: YearFilter) -> int:
    """How many URLs the client must fetch for one request with an
    empty cache: WB pages after the pushed year range, one per country
    for WHO and FAO, coo + coa for UNHCR, and the ILO suffix ladder up
    to the suffix the server accepts."""
    n = 0
    for iso3 in countries:
        if provider == "worldbank":
            recs = provider_records(seed, provider, params["indicator"], iso3)
            n += wb_pages(sum(1 for rec in recs if yf.contains(rec["year"])))
        elif provider in ("who", "fao"):
            n += 1
        elif provider == "unhcr":
            n += 2
        elif provider == "ilo":
            n += ILO_SUFFIX_INDEX + 1
    return n


def canonical_digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) with columns sorted by
    name, floats by repr and timestamps by isoformat."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    lines = sorted(repr(tuple(canon(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


# ---------------------------------------------------------------------------
# TPC-H-like star schema (same columns and value domains as the package's
# test tables), written by DuckDB into multi-row-group parquet
# ---------------------------------------------------------------------------

TPCH_BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
                  "orders": 1_500_000, "lineitem": 6_000_000}
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "green", "shiny", "rusty", "bright")
PART_NOUN = ("ring", "bolt", "plate", "screw", "gear", "valve", "spring", "pipe")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def write_tpch(con, out_dir: str, seed: int, sf: float, row_group_rows: int = 65_536) -> dict[str, int]:
    """Generate the star schema at scale ``sf`` from ``seed`` with
    DuckDB's ``setseed``/``random()`` and write one parquet per table.
    Returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(base * sf)) for t, base in TPCH_BASE_ROWS.items()}
    # random() draws in scan order; a single-threaded connection keeps
    # that order, and with it the data, a function of the seed
    con.execute("SET threads TO 1")
    con.execute(f"SELECT setseed({(stable_seed(seed, 'tpch') % 10_000) / 10_000.0})")

    def arr(xs) -> str:
        return "[" + ", ".join(f"'{x}'" for x in xs) + "]"

    def rnd(k: int) -> str:  # uniform int in [0, k)
        return f"CAST(floor(random() * {k}) AS BIGINT)"

    tables = {
        "region": f"SELECT CAST(i AS INTEGER) AS r_regionkey, {arr(REGIONS)}[i + 1] AS r_name FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                  "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
                    f"CAST({rnd(25)} AS INTEGER) AS c_nationkey, "
                    f"round(random() * 10999.75 - 999.9, 2) AS c_acctbal, "
                    f"{arr(SEGMENTS)}[{rnd(5)} + 1] AS c_mktsegment FROM range({n['customer']}) t(i)",
        "supplier": f"SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
                    f"CAST({rnd(25)} AS INTEGER) AS s_nationkey, "
                    f"round(random() * 10999.75 - 999.9, 2) AS s_acctbal FROM range({n['supplier']}) t(i)",
        "part": f"SELECT i AS p_partkey, {arr(PART_ADJ)}[{rnd(len(PART_ADJ))} + 1] || ' ' || "
                f"{arr(PART_NOUN)}[{rnd(len(PART_NOUN))} + 1] AS p_name, "
                f"'Brand#' || ({rnd(25)} + 1) AS p_brand, {arr(PART_TYPES)}[{rnd(6)} + 1] AS p_type, "
                f"CAST({rnd(50)} + 1 AS INTEGER) AS p_size, 900.0 + (i % 1000) / 10.0 AS p_retailprice "
                f"FROM range({n['part']}) t(i)",
        "orders": f"SELECT i AS o_orderkey, {rnd(n['customer'])} AS o_custkey, "
                  f"['F', 'O', 'P'][{rnd(3)} + 1] AS o_orderstatus, "
                  f"round(random() * 499000 + 1000, 2) AS o_totalprice, "
                  f"CAST(DATE '1995-01-01' + CAST({rnd(2404)} AS INTEGER) AS TIMESTAMP) AS o_orderdate, "
                  f"{arr(PRIORITIES)}[{rnd(5)} + 1] AS o_orderpriority FROM range({n['orders']}) t(i)",
        "lineitem": f"SELECT {rnd(n['orders'])} AS l_orderkey, {rnd(n['part'])} AS l_partkey, "
                    f"{rnd(n['supplier'])} AS l_suppkey, CAST({rnd(7)} + 1 AS INTEGER) AS l_linenumber, "
                    f"CAST({rnd(50)} + 1 AS DOUBLE) AS l_quantity, "
                    f"round(random() * 104099 + 900.5, 2) AS l_extendedprice, "
                    f"{rnd(11)} / 100.0 AS l_discount, {rnd(9)} / 100.0 AS l_tax, "
                    f"['A', 'N', 'R'][{rnd(3)} + 1] AS l_returnflag, ['F', 'O'][{rnd(2)} + 1] AS l_linestatus, "
                    f"CAST(DATE '1995-01-02' + CAST({rnd(2498)} AS INTEGER) AS TIMESTAMP) AS l_shipdate "
                    f"FROM range({n['lineitem']}) t(i)",
    }
    counts = {}
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE {row_group_rows})")
        counts[name] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    return counts


# ---------------------------------------------------------------------------
# dashboard points
# ---------------------------------------------------------------------------


def dashboard_points(seed: int, panel: int, n: int, center, rx: float, ry: float) -> list[tuple[float, float]]:
    """Seeded (lon, lat) points over the country's bounding box, 6
    decimals like a GPS fix; about a fifth fall outside every state."""
    r = _rng(seed, "points", panel)
    return [(round(center[0] + r.uniform(-rx, rx), 6), round(center[1] + r.uniform(-ry, ry), 6)) for _ in range(n)]
