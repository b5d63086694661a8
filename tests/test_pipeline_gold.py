"""End-to-end medallion pipeline test (SURVEY §5.2.3): messy
Polymarket-shaped fixtures (FIXTURES.md §B) → silver clean → gaming
enrich → gold star schema → validator must report 0 orphans and full
uniqueness; classifier and dedup semantics checked row-level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.plans.pipelines import (
    clean_events,
    clean_markets,
    clean_series,
    enrich_gaming_markets,
    gaming_market_filter,
    gaming_summary,
)
from ra2_datalake_linaresjoan_spark.plans.star_schema import build_gold
from ra2_datalake_linaresjoan_spark.plans.validator import validate_gold

MARKET_COLS = (
    "id question slug active closed featured volume liquidity lastTradePrice "
    "bestBid bestAsk spread openInterest outcomes outcomePrices events "
    "resolutionSource endDate createdAt updatedAt"
).split()

MARKETS = [
    # duplicate id, different updatedAt → newest must win (W1)
    ("m1", "Who will win DOTA The International?", "m1-slug", "true", "no", "1",
     "1,234.56", "100.5", "0.45", "0.44", "0.46", "0.02", "50",
     "['Yes', ' no']", "['0.45','0.55']", "[{'id': 'e1', 'title': 'TI 2026', 'series': [{'id': 's1'}]}]",
     "official", "2026-09-01T00:00:00", "2026-01-01T00:00:00", "2026-02-01T00:00:00"),
    ("m1", "Who will win DOTA The International?", "m1-slug", "si", "0", "y",
     "1.234,56", "200.75", "0.50", "0.49", "0.51", "0.02", "60",
     "['Yes', 'No']", "['0.5','0.5']", "[{'id': 'e1', 'title': 'TI 2026', 'series': [{'id': 's1'}]}]",
     "official", "2026-09-01T00:00:00", "2026-01-01T00:00:00", "2026-03-01T00:00:00"),
    # valorant spread bet, EU numeric, null-literal strings
    ("m2", "Valorant champions: Team A by more than 2.5 maps?", "None", "True", "False", "no",
     "999.99", "N/A", "0.2", "", "0.3", "0.1", "5",
     "['A', 'B', 'C']", "['0.2','0.3','0.5']", "[{'id': 'e2', 'title': 'VCT'}]",
     "null", "2026-10-01T00:00:00", "2026-01-02T00:00:00", "2026-02-02T00:00:00"),
    # excluded: include+exclude collision (dota + bitcoin)
    ("m3", "Will DOTA or bitcoin moon?", "m3", "1", "0", "0",
     "10", "1", "0.5", "0.4", "0.6", "0.2", "1",
     "['Yes','No']", "['0.5','0.5']", "[]",
     "src", "2026-01-01T00:00:00", "2026-01-01T00:00:00", "2026-01-05T00:00:00"),
    # non-gaming row
    ("m4", "Will it rain tomorrow?", "m4", "0", "1", "0",
     "5", "1", None, None, None, None, None,
     "[]", "[]", "[]", None, "bad-date", "2026-01-01T00:00:00", "2026-01-06T00:00:00"),
    # null id → dropped
    (None, "CS:GO major winner?", "x", "1", "0", "0",
     "7", "2", None, None, None, None, None,
     "['Yes','No']", "[]", "[]", None, None, None, "2026-01-07T00:00:00"),
    # blank question → dropped
    ("m5", "   ", "m5", "1", "0", "0",
     "7", "2", None, None, None, None, None,
     "[]", "[]", "[]", None, None, None, "2026-01-08T00:00:00"),
    # esports, over/under, null volume kept as 0.0 after clean
    ("m6", "CS:GO total kills over/under 50.5?", None, "yes", "f", "n",
     None, "3,000", "0.5", "0.45", "0.55", "0.1", "9",
     "['Over','Under']", "['0.5','0.5']", "[{'id': 'e1', 'title': 'TI 2026'}, {'id': 'e404', 'title': 'ghost'}]",
     "", "2026-05-01T00:00:00", "2026-01-03T00:00:00", "2026-02-15T00:00:00"),
]

EVENT_COLS = (
    "id title ticker slug category subcategory active closed featured "
    "resolutionSource tags series seriesId createdAt updatedAt creationDate startDate endDate"
).split()

EVENTS = [
    ("e1", "The International 2026", "TI26", "ti-2026", "Esports", "DOTA", "true", "no", "1",
     "official", "[{'id':'t1','label':'Esports','slug':'esports'},{'id':'t2','label':'DOTA'}]",
     "[{'id': 's1', 'title': 'TI series'}]", None,
     "2026-01-01T00:00:00", "2026-02-01T00:00:00", "2026-01-01T00:00:00",
     "2026-08-01T00:00:00", "2026-09-01T00:00:00"),
    # title null → ticker fallback; tags as plain strings; explicit seriesId
    # takes precedence over embedded series JSON and, being FK-invalid,
    # is nulled (loader_NeonDB:329-345)
    ("e2", None, "VCT26", "vct-2026", None, None, "0", "1", "0",
     None, "['valorant', 'Esports']", "[{'id': 's2'}]", "s404",
     "2026-01-02T00:00:00", "2026-02-02T00:00:00", "2026-01-02T00:00:00",
     "2026-07-01T00:00:00", "2026-10-01T00:00:00"),
    # dup id → newest wins; series id that doesn't exist → serie_id NULL
    ("e2", "old title", "VCT26", "vct-2026", "Esports", None, "0", "1", "0",
     None, "['valorant']", None, "s404",
     "2026-01-02T00:00:00", "2026-01-20T00:00:00", "2026-01-02T00:00:00",
     "2026-07-01T00:00:00", "2026-10-01T00:00:00"),
]

SERIES_COLS = "id slug title description updatedAt".split()
SERIES = [
    ("s1", "ti-series", "The International", None, "2026-01-01T00:00:00"),
    ("s2", None, "VCT Series", "desc", "2026-01-01T00:00:00"),
    (None, "ghost", "dropped", None, "2026-01-01T00:00:00"),
]


@pytest.fixture(scope="module")
def raw(spark):
    markets = spark.createDataFrame(MARKETS, MARKET_COLS)
    events = spark.createDataFrame(EVENTS, EVENT_COLS)
    series = spark.createDataFrame(SERIES, SERIES_COLS)
    return markets, events, series


@pytest.fixture(scope="module")
def silver(raw):
    markets, events, series = raw
    m = enrich_gaming_markets(gaming_market_filter(clean_markets(markets)))
    return m, clean_events(events), clean_series(series)


def test_clean_markets_dedup_and_typing(silver):
    m, _, _ = silver
    rows = {r["id"]: r for r in m.collect()}
    # m1: newest (March) row won, EU numeric parsed
    assert rows["m1"]["volume"] == 1234.56
    assert rows["m1"]["liquidity"] == 200.75
    assert rows["m1"]["active"] is True and rows["m1"]["closed"] is False
    # m3 excluded (bitcoin), m4 non-gaming, m5 blank question, null id dropped
    assert set(rows) == {"m1", "m2", "m6"}
    # m6: null volume filled with 0.0; '3,000' US-comma liquidity parsed
    assert rows["m6"]["volume"] == 0.0 and rows["m6"]["liquidity"] == 3000.0
    # m2: null-literal strings became real defaults
    assert rows["m2"]["slug"] == "m2"  # 'None' → null → id fallback
    assert rows["m2"]["resolutionSource"] == "Sin fuente"


def test_classifiers(silver):
    m, _, _ = silver
    rows = {r["id"]: r for r in m.collect()}
    assert rows["m1"]["gaming_type"] == "DOTA"
    assert rows["m1"]["bet_type"] == "Match Winner"
    assert rows["m2"]["gaming_type"] == "Valorant"
    assert rows["m2"]["bet_type"] == "Spread"
    assert rows["m6"]["gaming_type"] == "CS:GO"
    assert rows["m6"]["bet_type"] == "Over/Under"
    assert rows["m1"]["outcome_count"] == 2 and rows["m2"]["outcome_count"] == 3


def test_clean_events_fallbacks(silver):
    _, ev, _ = silver
    rows = {r["id"]: r for r in ev.collect()}
    assert rows["e2"]["title"] == "VCT26"  # null title → ticker fallback
    assert rows["e2"]["category"] == "Gaming" and rows["e2"]["subcategory"] == "General"
    assert ev.count() == 2  # dup e2 deduped, newest won


def test_gold_star_schema(spark, silver):
    m, ev, se = silver
    gold = build_gold(spark, m, ev, se)
    report = validate_gold(gold)
    assert report.ok, (report.orphans, report.uniqueness)
    # bridge contents: m1→e1, m2→e2, m6→e1 (e404 dropped as FK-invalid)
    pairs = {(r["mercado_id"], r["evento_id"])
             for r in gold["fact_mercado_evento_gaming"].collect()}
    assert pairs == {("m1", "e1"), ("m2", "e2"), ("m6", "e1")}
    # tags: e1 has Esports+DOTA; e2 has valorant+Esports (string form)
    tag_names = {r["tag_nombre"] for r in gold["dim_tag_gaming"].collect()}
    assert tag_names == {"Esports", "DOTA", "valorant"}
    et = {(r["evento_id"], r["tag_id"]) for r in gold["fact_evento_tag_gaming"].collect()}
    assert len(et) == 4
    # serie FK: e1→s1 valid; e2's explicit s404 → NULL (loader_NeonDB:344-345)
    ev_rows = {r["evento_id"]: r for r in gold["dim_evento_gaming"].collect()}
    assert ev_rows["e1"]["serie_id"] == "s1"
    assert ev_rows["e2"]["serie_id"] is None
    # videojuego FK resolution
    mk = {r["mercado_id"]: r for r in gold["dim_mercado_gaming"].collect()}
    vj = {r["nombre_juego"]: r["videojuego_id"] for r in gold["dim_videojuego"].collect()}
    assert mk["m1"]["videojuego_id"] == vj["DOTA"]
    assert mk["m2"]["videojuego_id"] == vj["Valorant"]
    # metrics fact dated by updatedAt
    assert gold["fact_metricas_gaming"].count() == 3


def _node_names(plan) -> list[str]:
    """Node names of a Catalyst plan tree, depth first."""
    out = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        out += _node_names(children.apply(i))
    return out


def test_dim_videojuego_is_a_local_relation(spark):
    """The seeded catalog plans as a literal relation: an RDD-backed scan
    of its 13 rows costs several times more each time it is read."""
    from pyspark.sql.types import StructType

    from ra2_datalake_linaresjoan_spark.plans.star_schema import (
        GAME_CATALOG,
        dim_videojuego,
    )

    df = dim_videojuego(spark)
    assert _node_names(df._jdf.queryExecution().optimizedPlan()) == ["LocalRelation"]
    ddl = StructType.fromDDL(
        "videojuego_id int, nombre_juego string, genero string, es_esports boolean"
    )
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in ddl
    ]
    assert [tuple(r) for r in df.collect()] == [
        (i, name, genero, es) for i, (name, genero, es) in enumerate(GAME_CATALOG, 1)
    ]


@pytest.fixture(scope="module")
def silver_read_back(spark, silver, tmp_path_factory):
    """The silver frames written to parquet and read back with their
    schema, as run_pipeline hands them to build_gold."""
    base = tmp_path_factory.mktemp("silver")
    out = []
    for i, df in enumerate(silver):
        path = str(base / f"silver{i}")
        df.write.parquet(path)
        out.append(spark.read.schema(df.schema).parquet(path))
    return tuple(out)


def test_build_gold_fires_no_job(spark, silver_read_back):
    """Building gold over silver read back from parquet, as run_pipeline
    does, runs no Spark job: the bridges join their dimension keys
    lazily, and dim_tag's surrogate-key route comes from the plan's size
    estimate instead of a probe."""
    import uuid

    sc = spark.sparkContext
    build = f"gold_build_{uuid.uuid4().hex}"
    sc.setJobGroup(build, "build_gold")
    try:
        build_gold(spark, *silver_read_back)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(build) == []


def test_medallion_plans_map_no_ascii_case(spark, silver, silver_read_back):
    """No silver or gold plan calls lower(), and upper() only on the
    outcome elements that are not pure ASCII: Spark 4 maps case through
    ICU, whose first call in a JVM loads its case tables (about 1.5 s)."""
    plans = [df._jdf.queryExecution().optimizedPlan().toString() for df in silver]
    gold = build_gold(spark, *silver_read_back)
    plans += [df._jdf.queryExecution().optimizedPlan().toString() for df in gold.values()]
    text = "\n".join(plans)
    assert "lower(" not in text
    assert text.count("upper(") == text.count("ELSE upper(") > 0
    assert "WHEN (octet_length(lambda x" in text


def test_medallion_builders_py4j_budget(spark, raw, silver_read_back, monkeypatch):
    """Building the silver recipes and the gold star schema parses SQL
    text per stage instead of building a Column tree per column, each
    node of which is one py4j round-trip to the JVM."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    gc.collect()  # release earlier tests' proxies outside the count
    monkeypatch.setattr(client, "send_command", counting)
    markets, events, series = raw
    enrich_gaming_markets(gaming_market_filter(clean_markets(markets)))
    clean_events(events)
    clean_series(series)
    silver_calls = len(calls)
    build_gold(spark, *silver_read_back)
    gold_calls = len(calls) - silver_calls
    monkeypatch.undo()
    # about 400 and 600 calls; a Column tree per column took 9,400 and 5,000
    assert silver_calls <= 1000, silver_calls
    assert gold_calls <= 1000, gold_calls


def test_clean_markets_is_a_few_projections(raw):
    """Each silver stage is one projection: a withColumn per column (20
    here) would put one Project per column back into the plan."""
    markets, _, _ = raw
    plan = clean_markets(markets)._jdf.queryExecution().analyzed()
    assert _node_names(plan).count("Project") <= 8


def test_validator_reports_broken_gold(spark, silver):
    """The validator must SEE a broken warehouse: a duplicated dim PK
    fails that table's uniqueness, an unknown fact FK counts one orphan
    on its own edge, and a NULL in the nullable serie FK is no orphan."""
    gold = build_gold(spark, *silver)
    tags = gold["dim_tag_gaming"]
    gold["dim_tag_gaming"] = tags.unionByName(tags.limit(1))
    et = gold["fact_evento_tag_gaming"]
    gold["fact_evento_tag_gaming"] = et.unionByName(
        et.limit(1).withColumn("evento_id", F.lit("e_ghost"))
    )
    ev = gold["dim_evento_gaming"]
    gold["dim_evento_gaming"] = ev.withColumn(
        "serie_id", F.when(F.col("evento_id") != "e1", F.col("serie_id"))
    )
    report = validate_gold(gold)
    assert report.uniqueness["dim_tag_gaming"] is False
    assert all(ok for t, ok in report.uniqueness.items() if t != "dim_tag_gaming")
    assert report.orphans["fact_evento_tag_gaming.evento_id"] == 1
    # the duplicated tag row is still ONE parent: no orphan, no fan-out
    assert report.orphans["fact_evento_tag_gaming.tag_id"] == 0
    assert report.orphans["dim_evento_gaming.serie_id"] == 0
    assert sum(report.orphans.values()) == 1
    assert report.ok is False


def test_validator_money_stats_ignore_row_order(spark, silver):
    """The money stats are exact DECIMAL(20,8) sums: the same fact rows
    in two orders give equal stats (a double sum's last digits follow
    the order), and a NaN or out-of-range value is skipped, not cast."""
    from decimal import Decimal

    gold = build_gold(spark, *silver)
    fact = gold["fact_metricas_gaming"]
    base = fact.first().asDict()
    # as doubles, sum(vol) and sum(reversed(vol)) differ in the last digits
    vol = [0.1] * 10 + [1e8] + [0.7] * 5
    liq = [0.3, 0.2, float("nan"), 1e13, 5.55, -0.25] + [0.1] * 10
    rows = [
        tuple({**base, "volumen_total": v, "liquidez_total": q}[c] for c in fact.columns)
        for v, q in zip(vol, liq)
    ]
    stats = []
    for ordered in (rows, rows[::-1]):
        gold["fact_metricas_gaming"] = spark.createDataFrame(
            ordered, fact.schema
        ).coalesce(1)
        stats.append(validate_gold(gold).stats)
    assert stats[0] == stats[1]

    def exact(xs):  # NaN fails the bound, as it fails finite_pred
        return float(sum(Decimal(repr(x)) for x in xs if abs(x) < 1e12))

    assert stats[0]["volumen_total"] == exact(vol)
    assert stats[0]["liquidez_total"] == exact(liq)


def test_run_pipeline_raises_on_orphan(spark, raw, tmp_path, monkeypatch):
    from ra2_datalake_linaresjoan_spark import cli

    def build_with_orphan(*args):
        gold = build_gold(*args)
        f = gold["fact_mercado_evento_gaming"]
        gold["fact_mercado_evento_gaming"] = f.unionByName(
            f.limit(1).withColumn("mercado_id", F.lit("m_ghost"))
        )
        return gold

    monkeypatch.setattr(cli, "build_gold", build_with_orphan)
    with pytest.raises(RuntimeError, match="gold integrity failed"):
        cli.run_pipeline(
            spark, *raw,
            silver_path=str(tmp_path / "silver"), gold_path=str(tmp_path / "gold"),
        )


def test_gaming_summary_shape(silver):
    m, _, _ = silver
    s = {r["gaming_type"]: r for r in gaming_summary(m).collect()}
    assert s["DOTA"]["n_markets"] == 1
    assert s["DOTA"]["total_volume"] == 1234.56
    assert s["CS:GO"]["n_binary"] == 1
    assert s["Valorant"]["n_triple"] == 1


def test_write_gold_empty_fact_readable(spark, tmp_path):
    """An EMPTY fact written with partitionBy emits only _SUCCESS and the
    read-back throws UNABLE_TO_INFER_SCHEMA — write_gold must fall back
    to an unpartitioned write so the schema survives a zero-market day."""
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.plans.star_schema import write_gold

    empty_fact = spark.createDataFrame(
        [], "mercado_id string, fecha_id int, volumen_total double"
    )
    write_gold({"fact_metricas_gaming": empty_fact}, str(tmp_path))
    back = spark.read.parquet(str(tmp_path / "fact_metricas_gaming"))
    assert back.count() == 0
    assert set(back.columns) == {"mercado_id", "fecha_id", "volumen_total"}


def test_curation_quality_gate_precedes_neardup(spark):
    """A high-quality doc must NOT be dropped for near-duplicating a
    LOWER-quality smaller-id doc that the quality floor removes anyway —
    the old dedup-first order erased such content entirely (doc 1 made
    doc 2 a near-dup casualty, then failed the floor itself)."""
    from ra2_datalake_linaresjoan_spark.llmdata.curation import curate_corpus

    groups = [f"the w{i} of data" for i in range(60)]  # 240 tok, 50% stop
    full = " ".join(groups)                  # len 1.0, stop ok -> q = 1.0
    prefix = " ".join(groups[:10])           # 40 tok -> len 0.2 -> q = 0.68
    docs = spark.createDataFrame(
        [(1, prefix, "en"), (2, full, "en")], ["doc_id", "text", "lang"]
    )
    out = {
        r["doc_id"]
        for r in curate_corpus(
            docs, min_quality=0.9, jaccard_threshold=0.1
        ).collect()
    }
    # doc 1 fails the floor; doc 2 (its near-dup ABOVE threshold 0.3)
    # must survive because the floor ran first
    assert out == {2}, out


def test_build_gold_tolerates_missing_optional_columns(spark):
    """Bronze feeds without tags/events/updatedAt/gaming_type must build
    gold with empty bridges instead of UNRESOLVED_COLUMN — the _c
    schema-tolerance contract the module documents."""
    from ra2_datalake_linaresjoan_spark.plans.star_schema import build_gold

    markets = spark.createDataFrame([("m1", "q?")], ["id", "question"])
    events = spark.createDataFrame([("e1", "t")], ["id", "title"])
    series = spark.createDataFrame([("s1",)], ["id"])
    gold = build_gold(spark, markets, events, series)
    assert gold["fact_evento_tag_gaming"].count() == 0
    assert gold["fact_mercado_evento_gaming"].count() == 0
    assert gold["fact_metricas_gaming"].count() == 0  # no updatedAt -> no date FK
    assert gold["dim_mercado_gaming"].count() == 1
