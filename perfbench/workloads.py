"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup`` (timed as
part of set-up). Its clients then work through cycles: ``cycle(client,
k)`` lists the requests of a client's k-th cycle, a fixed mix whose
order the seed shuffles, and ``request(ctx, client, item, rid)`` runs
one. Ending runs on cycle boundaries keeps the mix, and with it the
medians, the same from run to run. A request returns
``Outcome(kind, ok)``; a request whose output differs from the
expected rows (including a silent fallback to the package's embedded
samples) is a failure, as is one that raises.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from decimal import Decimal

from duckdb_sudan__spark.providers import samples
from duckdb_sudan__spark.providers.pushdown import YearFilter

from perfbench import gen

OLAP_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q6_forecast_revenue",
    "q9_product_profit", "q13_cust_distribution", "q18_large_orders", "q21_waiting_supplier",
    "w1_window_rank",
)
OLAP_SF = 0.1

# positional arguments of api.sudan_<provider> after `spark`
_API_ARGS = {
    "worldbank": ("indicator",), "who": ("indicator",), "fao": ("dataset", "element"),
    "unhcr": ("population_type",), "ilo": ("indicator",),
}
# the column a dashboard groups provider rows by
_COUNTRY_COL = {"worldbank": "country", "who": "country", "fao": "area", "unhcr": "country_origin", "ilo": "country"}
_VALUE_IDX = {"worldbank": 5, "who": 5, "fao": 5, "unhcr": 6, "ilo": 5}
_COUNTRY_IDX = {"worldbank": 2, "who": 2, "fao": 1, "unhcr": 2, "ilo": 1}


@dataclass
class Outcome:
    kind: str
    ok: bool


@dataclass
class ProviderSpec:
    provider: str
    params: dict
    countries: tuple
    yf: YearFilter
    path: str  # "ds" (spark.read.format("sudan"), executor fetch) or "api" (driver fetch)

    def expected(self, seed: int) -> list[tuple]:
        return gen.expected_rows(seed, self.provider, self.params, self.countries, self.yf)

    def urls_needed(self, seed: int) -> int:
        return gen.urls_needed(seed, self.provider, self.params, self.countries, self.yf)


@dataclass
class Context:
    spark: object
    workload: str
    seed: int
    work_dir: str
    tracer: object | None = None  # perfbench.trace.Tracer in a traced run
    trace_dir: str = ""
    base_url: str = ""
    cores: int = 1
    spark_stats: dict = field(default_factory=dict)  # traced olap: key -> list of per-run stats
    ds_partitions: list = field(default_factory=list)
    urls_needed: int = 0  # URLs the provider queries needed with an empty cache
    rows_returned: int = 0  # provider rows those queries returned
    provider_queries: int = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


# ---------------------------------------------------------------------------
# provider requests (both provider_* workloads)
# ---------------------------------------------------------------------------


def provider_params(provider: str, key: str, unhcr_type: str) -> dict:
    """The provider arguments of a request for ``key``; UNHCR has no
    key, only a population type."""
    if provider == "fao":
        return {"dataset": key, "element": "production"}
    if provider == "unhcr":
        return {"population_type": unhcr_type}
    return {"indicator": key}


def provider_frame(ctx: Context, spec: ProviderSpec, rid: str | None):
    """The DataFrame a user would build for ``spec`` on its path."""
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.providers import api

    if spec.path == "api":
        args = [spec.params[k] for k in _API_ARGS[spec.provider]]
        fn = getattr(api, f"sudan_{spec.provider}")
        return fn(ctx.spark, *args, countries=list(spec.countries), year_filter=spec.yf, offline=False)
    reader = (
        ctx.spark.read.format("sudan" if rid is None else "sudan_traced")
        .option("provider", spec.provider)
        .option("countries", ",".join(spec.countries))
        .option("offline", "false")
        .option("base_url", ctx.base_url)
    )
    for k, v in spec.params.items():
        reader = reader.option(k, v)
    if rid is not None:
        reader = reader.option("perfbench_request", rid).option("perfbench_trace_dir", ctx.trace_dir)
    df = reader.load()
    # the year range reaches the reader through pushFilters
    return df.where((F.col("year") >= spec.yf.year_start) & (F.col("year") <= spec.yf.year_end))


def _job_group(ctx: Context, rid: str | None):
    if rid is not None:
        ctx.spark.sparkContext.setJobGroup(rid, rid)


def _first_stage_tasks(ctx: Context, rid: str) -> int:
    sc = ctx.spark.sparkContext
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(rid) for s in (st.getJobInfo(j).stageIds or [])]
    if not stages:
        return 0
    info = st.getStageInfo(min(stages))
    return info.numTasks if info else 0


def run_provider(ctx: Context, spec: ProviderSpec, expected_digest, rid: str | None) -> tuple[bool, int]:
    _job_group(ctx, rid)
    ctx.provider_queries += 1
    rows = provider_frame(ctx, spec, rid).collect()
    if rid is not None and spec.path == "ds":
        ctx.ds_partitions.append(_first_stage_tasks(ctx, rid))
    columns = list(rows[0].__fields__) if rows else []
    return gen.canonical_digest(columns, [tuple(r) for r in rows]) == expected_digest, len(rows)


def provider_digest(seed: int, spec: ProviderSpec):
    from duckdb_sudan__spark.providers import api

    schema = {
        "worldbank": api.WORLDBANK_SCHEMA, "who": api.WHO_SCHEMA, "fao": api.FAO_SCHEMA,
        "unhcr": api.UNHCR_SCHEMA, "ilo": api.ILO_SCHEMA,
    }[spec.provider]
    exp = spec.expected(seed)
    if not exp:
        raise ValueError(f"empty expected output for {spec}")
    return gen.canonical_digest([f.name for f in schema.fields], exp)


# ---------------------------------------------------------------------------
# olap_tpch
# ---------------------------------------------------------------------------


class OlapTpch:
    """One closed-loop client runs the relational/window set over the
    staged sf0.1 tables; a cycle is one pass over every query in a
    seeded order."""

    clients = 1

    def setup(self, ctx: Context) -> dict:
        import duckdb

        from duckdb_sudan__spark import operators

        operators.load_all()
        t0 = time.perf_counter()
        self.data_dir = os.path.join(ctx.work_dir, "sf0.1")
        con = duckdb.connect()
        try:
            counts = gen.write_tpch(con, self.data_dir, ctx.seed, OLAP_SF)
            t1 = time.perf_counter()
            con.execute("SET threads TO 4")
            for t in counts:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            self.expected = {}
            for key in OLAP_QUERIES:
                rel = con.sql(operators.ORACLES[key])
                self.expected[key] = gen.canonical_digest(list(rel.columns), rel.fetchall())
        finally:
            con.close()
        self.rng = random.Random(gen.stable_seed(ctx.seed, "olap-order"))
        return {"lineitem_rows": counts["lineitem"], "stage_s": round(t1 - t0, 3),
                "oracle_s": round(time.perf_counter() - t1, 3)}

    def warmup(self, ctx: Context) -> None:
        """One untimed pass over the set at full scale: the JIT, codegen
        and planning caches settle on the timed tables' plans, so the
        timed pass does not carry the first pass's drift. The queries run
        concurrently, which overlaps their single-threaded planning and
        code generation."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(ctx.cores) as pool:
            for key, out in zip(OLAP_QUERIES, pool.map(lambda k: self.request(ctx, 0, k, None), OLAP_QUERIES)):
                if not out.ok:
                    raise RuntimeError(f"olap warm-up: {key} returned a wrong result")

    def cycle(self, client: int, k: int) -> list[str]:
        order = list(OLAP_QUERIES)
        self.rng.shuffle(order)
        return order

    def request(self, ctx: Context, client: int, key: str, rid: str | None) -> Outcome:
        from duckdb_sudan__spark.operators import QUERIES

        _job_group(ctx, rid)
        t0 = time.perf_counter()
        with ctx.span(f"query.{key}"):
            df = QUERIES[key](ctx.spark, self.data_dir)
            rows = df.collect()
        wall = time.perf_counter() - t0
        if rid is not None:
            ctx.spark_stats.setdefault(key, []).append(spark_query_stats(ctx, rid, wall))
        return Outcome(key, gen.canonical_digest(list(df.columns), [tuple(r) for r in rows]) == self.expected[key])


def spark_query_stats(ctx: Context, rid: str, wall: float) -> dict:
    """Stage, task, shuffle-byte and input-record counts of one query's
    jobs from Spark's status store, and executor run time over
    (wall x cores)."""
    sc = ctx.spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - py4j signature differs across versions; counts may lag
        time.sleep(0.2)
    st = sc.statusTracker()
    store = jsc.statusStore()
    stage_ids = sorted({s for j in st.getJobIdsForGroup(rid) for s in (st.getJobInfo(j).stageIds or [])})
    out = {"stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "input_records": 0, "run_ms": 0}
    for sid in stage_ids:
        try:
            data = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted from the store
            continue
        if str(data.status()) != "COMPLETE":
            continue  # skipped stages (reused shuffle output) did no work
        out["stages"] += 1
        out["tasks"] += data.numCompleteTasks()
        out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        # records, not inputBytes: for parquet scans the store's byte count
        # covers little more than the footers (34 KB for an 18 MB lineitem)
        out["input_records"] += data.inputRecords()
        out["run_ms"] += data.executorRunTime()
    out["core_busy_ratio"] = out["run_ms"] / 1000.0 / (wall * ctx.cores) if wall > 0 else 0.0
    return out


# ---------------------------------------------------------------------------
# provider_cold
# ---------------------------------------------------------------------------

# population types the package reads from a field the UNHCR API does not
# have ('returnees' from 'returnees', while the API names it
# 'returned_refugees'): the fetch finds no rows and the package falls back
# to its samples. provider_cold leaves them out of its requests, and every
# provider_cold run reports them through failing_unhcr_types instead.
UNHCR_MISREAD_TYPES = ("returnees",)
COLD_UNHCR_TYPES = tuple(t for t in samples.UNHCR_POPULATION_TYPES if t not in UNHCR_MISREAD_TYPES)


def failing_unhcr_types(seed: int) -> list[str]:
    """The package's population types whose driver-side fetch, against
    the loopback server and bypassing the cache, differs from the
    generated rows."""
    from duckdb_sudan__spark.providers import http

    yf = YearFilter(*gen.REQUEST_YEARS)
    settings = http.HttpSettings(use_cache=False)
    return [
        t for t in samples.UNHCR_POPULATION_TYPES
        if sorted(http.fetch_unhcr(t, "SDN", yf, settings))
        != sorted(gen.expected_rows(seed, "unhcr", {"population_type": t}, ["SDN"], yf))
    ]



class ProviderCold:
    """Every request is a never-seen (provider, indicator) over all 8
    countries, read through the DataSource path (executor fetch, year
    range via pushFilters) and then through the driver-side api path:
    all cache misses. A cycle covers each provider twice."""

    clients = 1

    def setup(self, ctx: Context) -> dict:
        self.rng = random.Random(gen.stable_seed(ctx.seed, "cold"))
        # 8- to 10-year ranges (one World Bank page per country)
        lo, hi = gen.REQUEST_YEARS
        self.ranges = [(a, a + w) for w in (9, 8, 7) for a in range(lo, hi - 8)]
        self.rng.shuffle(self.ranges)
        # UNHCR URLs carry only the country and the year range, so each
        # UNHCR request takes a range no earlier one in the run used
        ulo, uhi = gen.UNHCR_YEARS[0], gen.UNHCR_YEARS[-1]
        self.unhcr_ranges = [(a, a + w) for w in (9, 8, 7) for a in range(ulo, uhi - 9)]
        self.rng.shuffle(self.unhcr_ranges)
        self.serial = itertools.count()
        self.unhcr_serial = itertools.count()
        return {}

    def cycle(self, client: int, k: int) -> list[str]:
        order = list(gen.PROVIDERS) * 2
        self.rng.shuffle(order)
        return order

    def specs(self, ctx: Context, provider: str, n: int, prefix: str = "") -> list[ProviderSpec]:
        if provider == "unhcr":
            k = next(self.unhcr_serial)
            if k >= len(self.unhcr_ranges):
                raise RuntimeError(f"provider_cold used all {len(self.unhcr_ranges)} distinct UNHCR year ranges")
            a, b = self.unhcr_ranges[k]
        else:
            a, b = self.ranges[n % len(self.ranges)]
        params = provider_params(provider, f"PB{prefix}{ctx.seed}.{n}", COLD_UNHCR_TYPES[n % len(COLD_UNHCR_TYPES)])
        return [ProviderSpec(provider, params, gen.COUNTRIES, YearFilter(a, b), path) for path in ("ds", "api")]

    def warmup(self, ctx: Context) -> None:
        for spec in self.specs(ctx, "who", 0, prefix="w"):
            if not run_provider(ctx, spec, provider_digest(ctx.seed, spec), None)[0]:
                raise RuntimeError("provider_cold warm-up returned a wrong result")

    def request(self, ctx: Context, client: int, provider: str, rid: str | None) -> Outcome:
        ok = True
        for spec in self.specs(ctx, provider, next(self.serial)):
            good, n = run_provider(ctx, spec, provider_digest(ctx.seed, spec), rid)
            ctx.urls_needed += spec.urls_needed(ctx.seed)
            ok = ok and good
            ctx.rows_returned += n
        return Outcome(provider, ok)


# ---------------------------------------------------------------------------
# provider_dashboard
# ---------------------------------------------------------------------------

SEARCH_TERMS = ("population", "mortality", "life", "gdp", "rate", "health", "school")
DASHBOARD_POINTS = 200


def _ray_cast_py(lon: float, lat: float, edges) -> bool:
    """Even-odd rule, same half-open convention as the package's kernel."""
    inside = False
    for x0, y0, x1, y1 in edges:
        if (y0 > lat) != (y1 > lat):
            if lon < x0 + (lat - y0) * (x1 - x0) / (y1 - y0):
                inside = not inside
    return inside


def state_edges() -> list[tuple[str, str, list, tuple]]:
    """(iso, name, edges, bbox) per state from the served boundary
    geojson, every ring of every part."""
    from duckdb_sudan__spark.geo import states as geo_states

    out = []
    for i, (iso, name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = json.loads(geo_states.state_boundary_geojson(i))
        polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
        edges = [(r[k][0], r[k][1], r[k + 1][0], r[k + 1][1]) for p in polys for r in p for k in range(len(r) - 1)]
        xs = [c for e in edges for c in (e[0], e[2])]
        ys = [c for e in edges for c in (e[1], e[3])]
        out.append((iso, name, edges, (min(xs), min(ys), max(xs), max(ys))))
    return out


def expected_state_counts(points, states) -> dict[str, int]:
    counts: dict[str, int] = {}
    for lon, lat in points:
        for iso, _name, edges, (x0, y0, x1, y1) in states:
            if x0 <= lon <= x1 and y0 <= lat <= y1 and _ray_cast_py(lon, lat, edges):
                counts[iso] = counts.get(iso, 0) + 1
                break
    return counts


def expected_trend(spec: ProviderSpec, rows: list[tuple]) -> list[tuple]:
    """(country, year, total, delta vs previous year, rank of total
    within country) with exact decimal totals."""
    totals: dict[tuple, Decimal] = {}
    for r in rows:
        k = (r[_COUNTRY_IDX[spec.provider]], r[gen.YEAR_INDEX[spec.provider]])
        totals[k] = totals.get(k, Decimal(0)) + Decimal(repr(r[_VALUE_IDX[spec.provider]])).quantize(Decimal("0.001"))
    out = []
    for country in sorted({c for c, _ in totals}):
        years = sorted(y for c, y in totals if c == country)
        vals = [totals[(country, y)] for y in years]
        for j, y in enumerate(years):
            delta = vals[j] - vals[j - 1] if j else None
            rank = 1 + sum(1 for v in vals if v > vals[j])
            out.append((country, y, vals[j], delta, rank))
    return out


# (provider, path, countries) of the dashboard's panels, most popular first
DASHBOARD_PANELS = (("worldbank", "api", 8), ("ilo", "ds", 5))
# one cycle: a Zipf-like mix over the panels' widgets, with catalog
# searches (a search's term is drawn per cycle). Panel 0's trend is the
# most frequent request, and as many requests are cheaper (searches) as
# dearer (map, DataSource trends), so the median latency sits in the
# middle of its cluster.
DASHBOARD_CYCLE = (("trend", 0), ("trend", 0), ("trend", 0), ("map", 0), ("trend", 1), ("trend", 1),
                   ("search", None), ("search", None), ("wb_indicators", None))


class ProviderDashboard:
    """Closed-loop concurrent clients open dashboard widgets, all
    within the cache TTL. Each panel (provider, seeded key, seeded
    countries and year range) has two widgets: a trend (provider rows,
    then a window over years) and a map (seeded points assigned to
    states, joined to SUDAN_States, with a geocode check). Catalog
    searches are mixed in."""

    def __init__(self, clients: int) -> None:
        self.clients = clients

    def setup(self, ctx: Context) -> dict:
        from duckdb_sudan__spark.geo import states as geo_states

        r = random.Random(gen.stable_seed(ctx.seed, "dashboard"))
        self.panels: list[ProviderSpec] = []
        for p, (provider, path, n_countries) in enumerate(DASHBOARD_PANELS):
            params = provider_params(provider, f"D{ctx.seed}.{p}", r.choice(samples.UNHCR_POPULATION_TYPES))
            countries = tuple(r.sample(gen.COUNTRIES, n_countries))
            # 10 years: one World Bank page per country
            a = r.randint(gen.REQUEST_YEARS[0], gen.REQUEST_YEARS[1] - 9)
            yf = YearFilter(a, a + 9)
            self.panels.append(ProviderSpec(provider, params, countries, yf, path))
        self.seed = ctx.seed
        states = state_edges()
        self.expected = []
        for p, spec in enumerate(self.panels):
            rows = spec.expected(ctx.seed)
            pts = gen.dashboard_points(ctx.seed, p, DASHBOARD_POINTS, geo_states.COUNTRY_CENTER,
                                       geo_states.COUNTRY_RX, geo_states.COUNTRY_RY)
            counts = expected_state_counts(pts, states)
            state_rows = [(iso, name, counts[iso], iso) for iso, name, _e, _b in states if iso in counts]
            self.expected.append({
                "points": pts,
                "trend": gen.canonical_digest(["country", "year", "total", "delta", "rnk"], expected_trend(spec, rows)),
                "map": gen.canonical_digest(["iso_code", "state_name", "n_points", "geocoded"], state_rows),
                "urls": spec.urls_needed(ctx.seed),
                "rows": len(rows),
            })
        return {"panels": [f"{s.provider}/{s.path}/{len(s.countries)}c/{s.yf.year_start}-{s.yf.year_end}"
                           for s in self.panels]}

    def cycle(self, client: int, k: int) -> list[tuple[str, int]]:
        """The k-th cycle in a seeded order, the same for every client:
        users on one dashboard in step, so each request runs beside the
        same widget and its latency does not hang on how independent
        orders happen to overlap."""
        r = random.Random(gen.stable_seed(self.seed, "cycle", k))
        items = [(kind, r.randrange(len(SEARCH_TERMS)) if arg is None else arg) for kind, arg in DASHBOARD_CYCLE]
        r.shuffle(items)
        return items

    def warmup(self, ctx: Context) -> None:
        """Run every widget once: the trends fill the caches with each
        panel's provider rows, as a dashboard that has been open for a
        while would have."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(ctx.cores) as pool:
            items = sorted({(kind, 0 if arg is None else arg) for kind, arg in DASHBOARD_CYCLE})
            futures = [pool.submit(self.request, ctx, 0, item, None) for item in items]
            for f in futures:
                if not f.result().ok:
                    raise RuntimeError("dashboard warm-up returned a wrong result")

    def request(self, ctx: Context, client: int, item: tuple[str, int], rid: str | None) -> Outcome:
        kind, arg = item  # arg: the panel, or the index of a search term
        if kind == "trend":
            return self._trend(ctx, arg, rid)
        if kind == "map":
            return self._map(ctx, arg)
        if kind == "search":
            return self._search(ctx, SEARCH_TERMS[arg])
        return self._wb_indicators(ctx, SEARCH_TERMS[arg])

    def _search(self, ctx: Context, term: str) -> Outcome:
        from duckdb_sudan__spark.providers import api

        q = term.lower()
        exp = [("worldbank", i, n) for i, n, _s, _d in samples.WB_INDICATORS if q in i.lower() or q in n.lower()]
        exp += [("who", c, n) for c, n in samples.WHO_INDICATORS if q in c.lower() or q in n.lower()]
        rows = [tuple(r) for r in api.sudan_search(ctx.spark, term).collect()]
        return Outcome("search", sorted(rows) == sorted(exp))

    def _wb_indicators(self, ctx: Context, term: str) -> Outcome:
        from duckdb_sudan__spark.providers import api

        exp = [r for r in samples.WB_INDICATORS if term in r[0].lower() or term in r[1].lower()]
        rows = [tuple(r) for r in api.sudan_wb_indicators(ctx.spark, term).collect()]
        return Outcome("wb_indicators", sorted(rows) == sorted(exp))

    def _trend(self, ctx: Context, p: int, rid: str | None) -> Outcome:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spec, exp = self.panels[p], self.expected[p]
        _job_group(ctx, rid)
        df = provider_frame(ctx, spec, rid)
        yearly = df.groupBy(F.col(_COUNTRY_COL[spec.provider]).alias("country"), "year").agg(
            F.sum(F.col("value").cast("decimal(18,3)")).alias("total")
        )
        w = Window.partitionBy("country").orderBy("year")
        trend = yearly.select(
            "country", "year", "total",
            (F.col("total") - F.lag("total").over(w)).alias("delta"),
            F.rank().over(Window.partitionBy("country").orderBy(F.desc("total"))).alias("rnk"),
        )
        rows = [tuple(r) for r in trend.collect()]
        if rid is not None and spec.path == "ds":
            ctx.ds_partitions.append(_first_stage_tasks(ctx, rid))
        ctx.urls_needed += exp["urls"]
        ctx.rows_returned += exp["rows"]
        ctx.provider_queries += 1
        ok = gen.canonical_digest(list(trend.columns), rows) == exp["trend"]
        return Outcome(f"trend-{spec.path}", ok)

    def _map(self, ctx: Context, p: int) -> Outcome:
        from pyspark.sql import functions as F

        from duckdb_sudan__spark.geo import spatial
        from duckdb_sudan__spark.geo import states as geo_states

        exp = self.expected[p]
        with ctx.span("geo.assign"):
            pts = ctx.spark.createDataFrame(exp["points"], "lon double, lat double")
            counts = (
                spatial.assign_points_to_states(pts)
                .where(F.col("iso_code").isNotNull())
                .groupBy("iso_code")
                .agg(F.count(F.lit(1)).alias("n_points"))
            )
            states = geo_states.sudan_states(ctx.spark).select("iso_code", "state_name")
            joined = counts.join(F.broadcast(states), "iso_code").select(
                "iso_code", "state_name", "n_points", geo_states.geocode_expr(F.col("state_name")).alias("geocoded")
            )
            rows = [tuple(r) for r in joined.collect()]
        return Outcome("map", gen.canonical_digest(list(joined.columns), rows) == exp["map"])


def make(name: str, cores: int):
    if name == "olap_tpch":
        return OlapTpch()
    if name == "provider_cold":
        return ProviderCold()
    if name == "provider_dashboard":
        return ProviderDashboard(clients=max(1, cores // 2))
    raise SystemExit(f"unknown workload {name!r}; choose olap_tpch, provider_cold or provider_dashboard")
