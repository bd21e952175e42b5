"""Provider "table functions" as DataFrame builders.

Each reference table function (SUDAN_WorldBank, SUDAN_WHO, SUDAN_FAO,
SUDAN_UNHCR, SUDAN_ILO, discovery functions — reference
src/sudan/{worldbank,who,fao,unhcr,ilo,info}/) becomes a Python
function returning a DataFrame with the reference's exact schema.

Each provider function is one entry of TABLE_FUNCTIONS (schema,
required parameters, DataSource defaults, year column, fetch, samples),
shared with the `sudan` DataSource (sources/datasource.py). `bind` is
the Bind phase of both: it checks the provider, the parameters and the
countries eagerly, before any plan is built, with the reference's
messages. `provider_rows` is their Init + Execute for one country.

Execution model at scale: for N countries the row build is
parallelized per country (the live path fetches one country per input
partition — see sources/datasource.py). Offline mode (default here:
the container has no network) uses the deterministic embedded samples
so results are reproducible and oracle-checkable. `offline=False`
drives the reference's Init-phase fetch loops (providers/http.py) and
falls back to the samples per-country when the fetch yields nothing —
so a flaky network degrades to the embedded data, never to an error.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from duckdb_sudan__spark.oracle import values_sql
from duckdb_sudan__spark.providers import http, samples
from duckdb_sudan__spark.providers.pushdown import YearFilter
from duckdb_sudan__spark.providers.registry import PROVIDERS, resolve_countries, validate_country_codes


# -- schemas (exact reference column names/types) ----------------------------

WORLDBANK_SCHEMA = T.StructType(
    [
        T.StructField("indicator_id", T.StringType()),
        T.StructField("indicator_name", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("country_name", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)
WORLDBANK_DUCK_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "INTEGER", "DOUBLE"]

WHO_SCHEMA = T.StructType(
    [
        T.StructField("indicator_code", T.StringType()),
        T.StructField("indicator_name", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("sex", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("region", T.StringType()),
    ]
)
WHO_DUCK_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "INTEGER", "VARCHAR", "DOUBLE", "VARCHAR"]

FAO_SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType()),
        T.StructField("area", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("element", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("unit", T.StringType()),
    ]
)
FAO_DUCK_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "INTEGER", "DOUBLE", "VARCHAR"]

UNHCR_SCHEMA = T.StructType(
    [
        T.StructField("year", T.IntegerType()),
        T.StructField("population_type", T.StringType()),
        T.StructField("country_origin", T.StringType()),
        T.StructField("country_origin_name", T.StringType()),
        T.StructField("country_asylum", T.StringType()),
        T.StructField("country_asylum_name", T.StringType()),
        T.StructField("value", T.LongType()),
    ]
)
UNHCR_DUCK_TYPES = ["INTEGER", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "BIGINT"]

ILO_SCHEMA = T.StructType(
    [
        T.StructField("indicator", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("sex", T.StringType()),
        T.StructField("classif1", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)
ILO_DUCK_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "INTEGER", "DOUBLE"]

PROVIDERS_SCHEMA = T.StructType(
    [
        T.StructField("provider_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("name_ar", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("base_url", T.StringType()),
    ]
)
PROVIDERS_DUCK_TYPES = ["VARCHAR"] * 5

WB_INDICATORS_SCHEMA = T.StructType(
    [
        T.StructField("indicator_id", T.StringType()),
        T.StructField("indicator_name", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("source_note", T.StringType()),
    ]
)
WHO_INDICATORS_SCHEMA = T.StructType(
    [
        T.StructField("indicator_code", T.StringType()),
        T.StructField("indicator_name", T.StringType()),
        T.StructField("language", T.StringType()),
    ]
)
SEARCH_SCHEMA = T.StructType(
    [
        T.StructField("provider", T.StringType()),
        T.StructField("indicator_id", T.StringType()),
        T.StructField("indicator_name", T.StringType()),
    ]
)


# -- the provider table ------------------------------------------------------


@dataclass(frozen=True)
class TableFunction:
    """Everything Bind, Init and Execute need to know about one provider.
    ``params`` are the required parameters in the api function's
    positional order; ``fetch`` and ``samples`` take them as a dict."""

    schema: T.StructType
    params: tuple[str, ...]
    defaults: dict[str, str]  # DataSource option defaults
    year_idx: int  # position of `year` in a row
    fetch: Callable[[dict, str, YearFilter, http.HttpSettings | None], list[tuple]]
    samples: Callable[[dict, list[str]], list[tuple]]
    choices: dict[str, tuple[str, ...]] = field(default_factory=dict)  # parameter -> valid values


# fetch goes through the `http` module attribute at call time, so a
# patched http.fetch_* (tests, tracing) is the one that runs
TABLE_FUNCTIONS = {
    "worldbank": TableFunction(
        WORLDBANK_SCHEMA, ("indicator",), {}, 4,
        fetch=lambda p, iso3, yf, st: http.fetch_worldbank_pages(p["indicator"], iso3, yf, st),
        samples=lambda p, cs: samples.worldbank_rows(p["indicator"], cs),
    ),
    "who": TableFunction(
        WHO_SCHEMA, ("indicator",), {}, 3,
        fetch=lambda p, iso3, yf, st: http.fetch_who(p["indicator"], iso3, yf, st),
        samples=lambda p, cs: samples.who_rows(p["indicator"], cs),
    ),
    "fao": TableFunction(
        FAO_SCHEMA, ("dataset", "element"), {"dataset": "QCL", "element": "production"}, 4,
        fetch=lambda p, iso3, yf, st: http.fetch_fao(p["dataset"], p["element"], iso3, yf, st),
        samples=lambda p, cs: samples.fao_rows(p["dataset"], p["element"], cs),
    ),
    "unhcr": TableFunction(
        UNHCR_SCHEMA, ("population_type",), {"population_type": "refugees"}, 0,
        fetch=lambda p, iso3, yf, st: http.fetch_unhcr(p["population_type"], iso3, yf, st),
        samples=lambda p, cs: samples.unhcr_rows(p["population_type"], cs),
        choices={"population_type": samples.UNHCR_POPULATION_TYPES},
    ),
    "ilo": TableFunction(
        ILO_SCHEMA, ("indicator",), {}, 4,
        fetch=lambda p, iso3, yf, st: http.fetch_ilo(p["indicator"], iso3, yf, st),
        samples=lambda p, cs: samples.ilo_rows(p["indicator"], cs),
    ),
}


def table_function(provider: str) -> TableFunction:
    """The provider's entry; an unknown provider is a Bind error."""
    if provider not in TABLE_FUNCTIONS:
        raise ValueError(f"SUDAN: Unknown provider '{provider}'. Valid: {', '.join(sorted(TABLE_FUNCTIONS))}.")
    return TABLE_FUNCTIONS[provider]


def bind(provider: str, params: dict, countries: list[str] | None) -> list[str]:
    """Bind phase of both paths (reference *_functions.cpp Bind): check
    the provider, its parameters and the countries, and return the
    resolved ISO3 list."""
    fn = table_function(provider)
    for key in fn.params:
        if not params.get(key):
            raise ValueError(f"SUDAN: The {key} parameter cannot be empty.")
    for key, valid in fn.choices.items():
        if params[key] not in valid:
            raise ValueError(f"SUDAN: Invalid {key} '{params[key]}'. Valid: {', '.join(valid)}.")
    if countries and not validate_country_codes(countries):
        raise ValueError(
            "SUDAN: Invalid country code. Supported: SDN, EGY, ETH, TCD, SSD, ERI, LBY, CAF (ISO2 also accepted)."
        )
    return resolve_countries(countries)


def provider_rows(
    provider: str,
    params: dict,
    iso3: str,
    yf: YearFilter,
    offline: bool,
    settings: http.HttpSettings | None = None,
) -> list[tuple]:
    """Init + Execute for one country (reference Init loop,
    wb_functions.cpp:236-243): the live fetch unless offline, the
    embedded samples when offline or when the fetch yields no rows
    (network down, 4xx, parse failure), then the year filter."""
    fn = TABLE_FUNCTIONS[provider]
    rows = [] if offline else fn.fetch(params, iso3, yf, settings)
    if not rows:
        rows = fn.samples(params, [iso3])
    if yf.active:
        rows = [r for r in rows if yf.contains(r[fn.year_idx])]
    return rows


def _table(spark, provider, params, countries, year_filter, offline, settings) -> DataFrame:
    iso3s = bind(provider, params, countries)
    yf = year_filter or YearFilter()
    rows = [r for iso3 in iso3s for r in provider_rows(provider, params, iso3, yf, offline, settings)]
    return spark.createDataFrame(rows, TABLE_FUNCTIONS[provider].schema)


# -- data functions ----------------------------------------------------------


def sudan_worldbank(
    spark: SparkSession,
    indicator: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_WorldBank(indicator, countries := [...]). Reference
    wb_functions.cpp:57-103; live path = the paged fetch loop of
    wb_functions.cpp:110-210 with date=START:END pushed into the URL."""
    return _table(spark, "worldbank", {"indicator": indicator}, countries, year_filter, offline, settings)


def sudan_who(
    spark: SparkSession,
    indicator: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_WHO(indicator, countries := [...]). Reference
    who_functions.cpp:52-91; live path = FetchWHOData
    (who_functions.cpp:107-205) with the year range merged into the
    OData $filter."""
    return _table(spark, "who", {"indicator": indicator}, countries, year_filter, offline, settings)


def sudan_fao(
    spark: SparkSession,
    dataset: str,
    element: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_FAO(dataset, element, countries := [...]). Reference
    fao_functions.cpp:55-95; live path = FetchFAOData
    (fao_functions.cpp:205-232): numeric area code, limit=500, element
    matched client-side."""
    params = {"dataset": dataset, "element": element}
    return _table(spark, "fao", params, countries, year_filter, offline, settings)


def sudan_unhcr(
    spark: SparkSession,
    population_type: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_UNHCR(population_type, countries := [...]). Reference
    unhcr_functions.cpp:52-92; live path = FetchUNHCRData
    (unhcr_functions.cpp:228-245): one unified-endpoint fetch per
    {coo, coa} per country."""
    params = {"population_type": population_type}
    return _table(spark, "unhcr", params, countries, year_filter, offline, settings)


def sudan_ilo(
    spark: SparkSession,
    indicator: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_ILO(indicator, countries := [...]). Reference
    ilo_functions.cpp:50-87; live path = FetchILOData
    (ilo_functions.cpp:102-350): SDMX key-suffix ladder + structure
    walk."""
    return _table(spark, "ilo", {"indicator": indicator}, countries, year_filter, offline, settings)


# -- discovery / metadata ----------------------------------------------------


def providers_rows() -> list[tuple]:
    return [(p.id, p.name, p.name_ar, p.description, p.base_url) for p in PROVIDERS]


def sudan_providers(spark: SparkSession) -> DataFrame:
    """SUDAN_Providers(). Reference info_functions.cpp:30-125."""
    return spark.createDataFrame(providers_rows(), PROVIDERS_SCHEMA)


def wb_indicator_rows(search: str | None = None) -> list[tuple]:
    rows = list(samples.WB_INDICATORS)
    if search:
        s = search.lower()
        rows = [r for r in rows if s in r[0].lower() or s in r[1].lower()]
    return rows


def sudan_wb_indicators(spark: SparkSession, search: str | None = None) -> DataFrame:
    """SUDAN_WB_Indicators(search := ...). Reference wb_indicators.cpp:40-95."""
    return spark.createDataFrame(wb_indicator_rows(search), WB_INDICATORS_SCHEMA)


def who_indicator_rows(search: str | None = None) -> list[tuple]:
    rows = [(code, name, "EN") for code, name in samples.WHO_INDICATORS]
    if search:
        s = search.lower()
        rows = [r for r in rows if s in r[0].lower() or s in r[1].lower()]
    return rows


def sudan_who_indicators(spark: SparkSession, search: str | None = None) -> DataFrame:
    """SUDAN_WHO_Indicators(search := ...). Reference who_functions.cpp:300-330."""
    return spark.createDataFrame(who_indicator_rows(search), WHO_INDICATORS_SCHEMA)


def search_rows(query: str) -> list[tuple]:
    """Substring match over WB + WHO catalogs (reference
    info_functions.cpp:193-296 matches on id or name, WB then WHO)."""
    q = query.lower()
    out = []
    for ind_id, name, _, _ in samples.WB_INDICATORS:
        if q in ind_id.lower() or q in name.lower():
            out.append(("worldbank", ind_id, name))
    for code, name in samples.WHO_INDICATORS:
        if q in code.lower() or q in name.lower():
            out.append(("who", code, name))
    return out


def sudan_search(spark: SparkSession, query: str | None = None) -> DataFrame:
    """SUDAN_Search(query := ...). Reference info_functions.cpp:154-171."""
    if not query:
        raise ValueError("SUDAN: The 'query' parameter is required for SUDAN_Search().")
    return spark.createDataFrame(search_rows(query), SEARCH_SCHEMA)


# -- oracle SQL builders (exact VALUES of the same embedded rows) ------------


def providers_oracle() -> str:
    return values_sql(providers_rows(), [f.name for f in PROVIDERS_SCHEMA.fields], PROVIDERS_DUCK_TYPES)


def worldbank_oracle(indicator: str, countries: list[str] | None = None) -> str:
    rows = samples.worldbank_rows(indicator, resolve_countries(countries))
    return values_sql(rows, [f.name for f in WORLDBANK_SCHEMA.fields], WORLDBANK_DUCK_TYPES)


def who_oracle(indicator: str, countries: list[str] | None = None) -> str:
    rows = samples.who_rows(indicator, resolve_countries(countries))
    return values_sql(rows, [f.name for f in WHO_SCHEMA.fields], WHO_DUCK_TYPES)


def fao_oracle(dataset: str, element: str, countries: list[str] | None = None) -> str:
    rows = samples.fao_rows(dataset, element, resolve_countries(countries))
    return values_sql(rows, [f.name for f in FAO_SCHEMA.fields], FAO_DUCK_TYPES)


def unhcr_oracle(population_type: str, countries: list[str] | None = None) -> str:
    rows = samples.unhcr_rows(population_type, resolve_countries(countries))
    return values_sql(rows, [f.name for f in UNHCR_SCHEMA.fields], UNHCR_DUCK_TYPES)


def ilo_oracle(indicator: str, countries: list[str] | None = None) -> str:
    rows = samples.ilo_rows(indicator, resolve_countries(countries))
    return values_sql(rows, [f.name for f in ILO_SCHEMA.fields], ILO_DUCK_TYPES)


def wb_indicators_oracle(search: str | None = None) -> str:
    return values_sql(wb_indicator_rows(search), [f.name for f in WB_INDICATORS_SCHEMA.fields], ["VARCHAR"] * 4)


def who_indicators_oracle(search: str | None = None) -> str:
    return values_sql(who_indicator_rows(search), [f.name for f in WHO_INDICATORS_SCHEMA.fields], ["VARCHAR"] * 3)


def search_oracle(query: str) -> str:
    return values_sql(search_rows(query), [f.name for f in SEARCH_SCHEMA.fields], ["VARCHAR"] * 3)
