"""Tests of the benchmark's own machinery (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import random
import statistics
import threading
from http.server import ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit
from urllib.request import urlopen

import duckdb
import pytest

from duckdb_sudan__spark.providers import http, pushdown, samples
from duckdb_sudan__spark.providers.pushdown import YearFilter
from perfbench import gen, server, stats, workloads

# -- seed determinism ---------------------------------------------------------


@pytest.mark.parametrize("provider", gen.PROVIDERS)
def test_provider_records_are_a_function_of_the_seed(provider):
    key = "coo" if provider == "unhcr" else "IND.X"
    a = gen.provider_records(7, provider, key, "SDN")
    assert a == gen.provider_records(7, provider, key, "SDN")
    assert a != gen.provider_records(8, provider, key, "SDN")
    assert all(isinstance(r["year"], int) for r in a)


def test_expected_rows_nonempty_for_every_request_range():
    lo, hi = gen.REQUEST_YEARS
    for provider, params in [
        ("worldbank", {"indicator": "I"}), ("who", {"indicator": "I"}), ("ilo", {"indicator": "I"}),
        ("fao", {"dataset": "D", "element": "production"}), ("unhcr", {"population_type": "refugees"}),
    ]:
        for iso3 in gen.COUNTRIES:
            # an empty country would make the package fall back to its samples
            assert gen.expected_rows(3, provider, params, [iso3], YearFilter(lo, lo + 3))
            assert gen.expected_rows(3, provider, params, [iso3], YearFilter(hi - 3, hi))


def test_tpch_generation_is_deterministic(tmp_path):
    digests = []
    for run in range(2):
        con = duckdb.connect()
        out = tmp_path / f"run{run}"
        counts = gen.write_tpch(con, str(out), seed=5, sf=0.001, row_group_rows=1000)
        digests.append(con.execute(f"SELECT sum(hash(l_orderkey, l_shipdate, l_extendedprice)) "
                                   f"FROM '{out}/lineitem.parquet'").fetchone()[0])
        con.close()
    assert counts["lineitem"] == 6000 and counts["nation"] == 25
    assert digests[0] == digests[1]
    con = duckdb.connect()
    gen.write_tpch(con, str(tmp_path / "other"), seed=6, sf=0.001, row_group_rows=1000)
    other = con.execute(f"SELECT sum(hash(l_orderkey, l_shipdate, l_extendedprice)) "
                        f"FROM '{tmp_path}/other/lineitem.parquet'").fetchone()[0]
    assert other != digests[0]
    groups = con.execute(f"SELECT count(DISTINCT row_group_id) FROM parquet_metadata('{tmp_path}/other/lineitem.parquet')").fetchone()[0]
    assert groups > 1  # multi-row-group, so scans can split


def test_dashboard_points_are_seeded():
    a = gen.dashboard_points(1, 0, 50, (30.0, 15.0), 9.0, 7.0)
    assert a == gen.dashboard_points(1, 0, 50, (30.0, 15.0), 9.0, 7.0)
    assert a != gen.dashboard_points(1, 1, 50, (30.0, 15.0), 9.0, 7.0)


# -- server year parsing vs providers.pushdown encoders -----------------------


def _query(url: str) -> dict:
    # the package percent-encodes spaces at send time; the server sees this
    return parse_qs(urlsplit(url.replace(" ", "%20")).query)


def _ranges():
    r = random.Random(0)
    out = [(0, 0), (1990, 0), (0, 2010)]
    for _ in range(30):
        a = r.randint(1950, 2030)
        out.append((a, r.randint(a, 2040)))
    return out


@pytest.mark.parametrize("start,end", _ranges())
def test_server_year_parsing_matches_pushdown_encoders(start, end):
    yf = YearFilter(start, end)
    wb = server.parse_year_range("worldbank", _query(http.build_worldbank_url("I", "SDN", yf)))
    who = server.parse_year_range("who", _query(http.build_who_url("I", "SDN", yf)))
    unhcr = server.parse_year_range("unhcr", _query(http.build_unhcr_url("coo", "SDN", yf)))
    ilo = server.parse_year_range("ilo", _query(http.build_ilo_urls("I", "SDN", yf)[0]))
    fao = server.parse_year_range("fao", parse_qs(pushdown.encode_fao(yf)))
    assert who == unhcr == ilo == fao == (start, end)
    # World Bank has no open-ended form: the encoder pads with 1900/2100
    if yf.active:
        assert wb == (start or 1900, end or 2100)
    else:
        assert wb == (0, 0)


# -- server end to end (no Spark) ---------------------------------------------


@pytest.fixture
def loopback():
    counters = server.Counters()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), server.make_handler(11, 0.0, counters))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    saved = dict(http.PROVIDER_BASES)
    for k in http.PROVIDER_BASES:
        http.PROVIDER_BASES[k] = base
    try:
        yield base, counters
    finally:
        http.PROVIDER_BASES.update(saved)
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)


def _no_cache():
    return http.HttpSettings(use_cache=False)


def test_fetches_through_the_package_return_the_generated_rows(loopback):
    base, counters = loopback
    yf = YearFilter(2006, 2019)
    cases = [
        ("worldbank", {"indicator": "W1"}, lambda c: http.fetch_worldbank_pages("W1", c, yf, _no_cache())),
        ("who", {"indicator": "H1"}, lambda c: http.fetch_who("H1", c, yf, _no_cache())),
        ("fao", {"dataset": "QX", "element": "production"}, lambda c: http.fetch_fao("QX", "production", c, yf, _no_cache())),
        ("unhcr", {"population_type": "idps"}, lambda c: http.fetch_unhcr("idps", c, yf, _no_cache())),
        ("ilo", {"indicator": "L1"}, lambda c: http.fetch_ilo("L1", c, yf, _no_cache())),
    ]
    for provider, params, fetch in cases:
        for iso3 in ("SDN", "CAF"):
            got = fetch(iso3)
            exp = gen.expected_rows(11, provider, params, [iso3], yf)
            assert sorted(got, key=repr) == sorted(exp, key=repr), provider
            counters.reset()
            fetch(iso3)
            assert counters.snapshot()["requests"] == gen.urls_needed(11, provider, params, [iso3], yf), provider


@pytest.mark.parametrize("ptype", [
    pytest.param(t, marks=pytest.mark.xfail(
        strict=True, reason="the package reads 'returnees' from a field of that name; the API names it "
                            "'returned_refugees'")) if t == "returnees" else t
    for t in samples.UNHCR_POPULATION_TYPES
])
def test_every_unhcr_population_type_returns_the_generated_rows(loopback, ptype):
    yf = YearFilter(1960, 1968)
    got = http.fetch_unhcr(ptype, "SDN", yf, _no_cache())
    assert sorted(got) == sorted(gen.expected_rows(11, "unhcr", {"population_type": ptype}, ["SDN"], yf))


def test_provider_cold_leaves_out_exactly_the_types_the_package_misreads(loopback):
    # fails once the package reads 'returnees' correctly: put it back into provider_cold then
    assert workloads.failing_unhcr_types(11) == list(workloads.UNHCR_MISREAD_TYPES)
    cold = workloads.ProviderCold()
    ctx = workloads.Context(spark=None, workload="provider_cold", seed=5, work_dir="")
    cold.setup(ctx)
    types = {cold.specs(ctx, "unhcr", n)[0].params["population_type"] for n in range(24)}
    assert types == set(samples.UNHCR_POPULATION_TYPES) - set(workloads.UNHCR_MISREAD_TYPES)


def test_provider_cold_never_repeats_a_unhcr_url():
    cold = workloads.ProviderCold()
    ctx = workloads.Context(spark=None, workload="provider_cold", seed=5, work_dir="")
    cold.setup(ctx)
    specs = [cold.specs(ctx, "unhcr", n)[0] for n in range(len(cold.unhcr_ranges))]
    assert len({(s.yf.year_start, s.yf.year_end) for s in specs}) == len(specs) > 100
    assert all(s.expected(5) for s in specs[:20])
    with pytest.raises(RuntimeError):
        cold.specs(ctx, "unhcr", len(specs))


def test_server_counts_and_stats(loopback):
    base, counters = loopback
    with urlopen(base + "/v2/country/SDN/indicator/X?format=json&per_page=1000&page=1&date=2000:2009") as r:
        doc = json.loads(r.read())
    assert doc[0]["pages"] == 1 and len(doc[1]) == 10
    snap = counters.snapshot()
    assert snap["requests"] == 1 and snap["rows"] == 10 and snap["bytes"] > 0 and snap["max_inflight"] == 1
    with urlopen(base + "/__stats") as r:
        assert json.loads(r.read())["requests"] == 1  # stats calls are not counted


# -- percentile, tail and ratio math ------------------------------------------


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 25) == 2.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    assert stats.percentile(range(101), 90) == pytest.approx(90.0)
    assert stats.percentile(range(1, 11), 50) == statistics.median(range(1, 11))


def test_tail_percentile_leaves_ten_samples_beyond():
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(12) == 50.0  # never below the median
    for n in (20, 37, 100, 250):
        p = stats.tail_percentile(n)
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
        assert beyond >= 10 or p == 50.0


def test_ratios():
    assert stats.ratio(3, 4) == 0.75 and stats.ratio(1, 0) == 0.0
    assert stats.hit_ratio(0, 10) == 1.0
    assert stats.hit_ratio(10, 10) == 0.0
    assert stats.hit_ratio(3, 12) == 0.75
    assert stats.hit_ratio(0, 0) == 0.0


def test_kind_medians():
    got = stats.kind_medians([("map", 3.0), ("trend", 1.0), ("map", 1.0), ("trend", 2.0), ("trend", 9.0)])
    assert got == {"map": (2, 2.0), "trend": (3, 2.0)}
    assert stats.kind_medians([]) == {}


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean([])


def test_self_time_subtracts_union_of_children():
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)
    assert stats.self_time(0.0, 10.0, [(1.0, 2.0), (5.0, 6.0)]) == pytest.approx(8.0)
    assert stats.self_time(0.0, 10.0, [(-5.0, 20.0)]) == 0.0
    assert stats.self_time(0.0, 10.0, [(8.0, 12.0)]) == pytest.approx(8.0)


def test_tracer_records_nested_spans_only_inside_requests():
    from perfbench.trace import Tracer, self_times_by_request

    t = Tracer()
    with t.span("outside"):
        pass
    assert t.spans == []
    with t.request("r1"):
        with t.span("api.call"):
            with t.span("http.fetch"):
                pass
    assert [s.name for s in t.spans] == ["api.call", "http.fetch"]
    assert t.spans[1].parent == t.spans[0].sid and t.spans[0].parent is None
    per = self_times_by_request(t.spans)
    total = t.spans[0].end - t.spans[0].start
    assert per["r1"]["api.call"] + per["r1"]["http.fetch"] == pytest.approx(total)


def test_tracer_patch_and_restore():
    from perfbench.trace import Tracer

    class Box:
        def f(self, x):
            return x + 1

    t = Tracer()
    original = Box.__dict__["f"]
    t.patch(Box, "f", "box.f")
    with t.request("r"):
        assert Box().f(1) == 2
    assert Box().f(2) == 3  # untraced call passes through
    assert [s.name for s in t.spans] == ["box.f"]
    t.restore()
    assert Box.__dict__["f"] is original
