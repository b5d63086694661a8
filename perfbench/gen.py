"""Seeded input generators for the benchmark.

Everything here is plain numpy + pyarrow: no Spark, so generation cost is
small and the engine only ever sees the files written.  The same seed
always yields byte-identical tables.

- ``lake_tables``  — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` (the driver-table contract in
  FIXTURES.md §A), one parquet file per table.
- ``stream_files`` — the events table split into ts-ordered replay files
  with bounded disorder, and their arrival order.
- ``bronze``       — Polymarket-shaped bronze (FIXTURES.md §B) whose
  embedded references resolve, plus the gold counts the pipeline must
  produce from it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_START = datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400


def _write(path: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def _events(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Event log sorted by ts (event_id follows ts order), 30 days wide."""
    offs = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    start_us = int((EVENTS_START - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    n_users = max(n // 67, 10)
    value = np.clip(np.round(rng.lognormal(2.5, 1.2, n), 2), 0.01, 490.02)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(offs + start_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Word-salad documents over a small vocabulary; every 20th is a
    near-duplicate (an earlier document's text plus a trailing ``dup``
    token).  Lengths are a seeded permutation of one fixed spread, so the
    corpus's size and duplicate structure do not depend on the seed."""
    vocab = np.array(VOCAB)
    lengths = rng.permutation(np.linspace(8, 89, n).round().astype(int))
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Unit 64-d vectors around ten label centres."""
    centres = rng.standard_normal((10, 64))
    label = rng.integers(0, 10, n)
    v = centres[label] + 1.5 * rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def lake_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the driver-table set at ``scale`` (1.0 ≈ the sf0.01 row
    counts) under ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(1500 * scale), max(int(100 * scale), 10)
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_line, n_ev = int(60000 * scale), int(10000 * scale)
    n_docs, n_emb = int(500 * scale), int(500 * scale)
    day0 = np.datetime64("1995-01-01", "us")
    days = lambda k, lo, hi: day0 + rng.integers(lo, hi, k).astype("timedelta64[D]")  # noqa: E731
    money = lambda k, lo, hi: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    pick = lambda k, opts: np.array(opts)[rng.integers(0, len(opts), k)]  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(pick(n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(n_supp, -999.99, 9999.99)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(
                    pick(n_part, ["small", "new", "blue", "old", "red", "hot", "large", "cold"]),
                    pick(n_part, ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]),
                )]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(pick(n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(pick(n_ord, ["F", "O", "P"])),
            "o_totalprice": pa.array(money(n_ord, 1000, 500000)),
            "o_orderdate": pa.array(days(n_ord, 0, 2404), type=pa.timestamp("us")),
            "o_orderpriority": pa.array(pick(n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(money(n_line, 900, 105000)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(pick(n_line, ["A", "N", "R"])),
            "l_linestatus": pa.array(pick(n_line, ["F", "O"])),
            "l_shipdate": pa.array(days(n_line, 1, 2499), type=pa.timestamp("us")),
        },
        "events": _events(rng, n_ev),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    return {
        name: _write(os.path.join(out_dir, f"{name}.parquet"), cols)
        for name, cols in tables.items()
    }


# --------------------------------------------------------------- stream


#: how far (s) from a file boundary an event may arrive one file early or
#: late — well inside the stream's 2-hour watermark
STREAM_JITTER_S = 1800


def stream_files(out_dir: str, seed: int, n_rows: int, n_files: int) -> tuple[list[str], pa.Table]:
    """Split a fresh events table into ``n_files`` replay files in ts order.

    Disorder is seeded and bounded: an event within ``STREAM_JITTER_S`` of
    a file boundary may be delivered one file early or late, and rows
    inside a file are shuffled, so no event may be dropped.  Returns the files in
    arrival order and the full table (the batch ground truth)."""
    rng = np.random.default_rng(seed)
    table = pa.table(_events(rng, n_rows))
    ts = table.column("ts").to_numpy().astype("int64")
    per = -(-n_rows // n_files)
    slot = np.arange(n_rows) // per
    bounds = ts[np.minimum(np.arange(1, n_files) * per, n_rows - 1)]
    jit = STREAM_JITTER_S * 1_000_000
    move = rng.random(n_rows) < 0.5
    for f, b in enumerate(bounds):
        late = (slot == f) & (ts > b - jit) & move  # just before boundary → next file
        early = (slot == f + 1) & (ts < b + jit) & move  # just after → previous file
        slot[late] = f + 1
        slot[early] = f
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        idx = np.flatnonzero(slot == f)
        rng.shuffle(idx)
        p = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(table.take(pa.array(idx)), p)
        paths.append(p)
    return paths, table


def stamp_arrival(paths: list[str]) -> None:
    """Give each file an mtime 2 s after the previous one, so the file
    source replays them in list order (tied copy-time mtimes replay in
    directory-listing order)."""
    for i, p in enumerate(paths):
        t = 1_700_000_000.0 + 2.0 * i
        os.utime(p, (t, t))


# --------------------------------------------------------------- bronze

#: (question template, gaming keyword) — each hits one include keyword
GAMING_QUESTIONS = [
    "Who will win DOTA The International {n}?",
    "Valorant champions {n}: Team A by more than 2.5 maps?",
    "CS:GO major {n} total kills over/under 50.5?",
    "League of Legends worlds {n}: will T1 win?",
    "Fortnite cup {n} winner?",
    "Overwatch league {n} match winner?",
    "Rocket League RLCS {n}: Team B to win?",
    "StarCraft sc2 finals {n} winner?",
    "Call of Duty league {n} champion?",
    "Hearthstone masters {n} winner?",
]
NON_GAMING = ["Will it rain in city {n} tomorrow?", "Will team {n} win the football cup?"]
EXCLUDED = ["Will DOTA player {n} buy bitcoin?", "Valorant or NBA finals {n}?"]
NUM_FORMATS = ["{:.2f}", "{:,.2f}", "{:.0f}"]
BOOLS = ["true", "True", "1", "yes", "si", "0", "f", "false", "no", None]
NULLISH = ["", "None", "null", "N/A", "NA"]


@dataclass
class Bronze:
    """Bronze row lists plus the gold counts the pipeline must produce."""

    markets: list[tuple]
    events: list[tuple]
    series: list[tuple]
    expected: dict[str, int] = field(default_factory=dict)

    @property
    def n_rows(self) -> int:
        return len(self.markets) + len(self.events) + len(self.series)


MARKET_COLS = (
    "id question slug active closed featured volume liquidity lastTradePrice "
    "bestBid bestAsk spread openInterest outcomes outcomePrices events "
    "resolutionSource endDate createdAt updatedAt"
).split()
EVENT_COLS = (
    "id title ticker slug category subcategory active closed featured "
    "resolutionSource tags series seriesId createdAt updatedAt creationDate "
    "startDate endDate"
).split()
SERIES_COLS = "id slug title description updatedAt".split()


def _iso(d: datetime) -> str:
    return d.strftime("%Y-%m-%dT%H:%M:%S")


#: distinct tag labels, and days of ``updatedAt`` (the metrics fact's
#: partitions), in the bronze
N_TAGS, N_DAYS = 40, 20


def bronze(seed: int, n_markets: int, n_events: int, n_series: int) -> Bronze:
    """Polymarket-shaped bronze with the FIXTURES.md §B pathologies:
    duplicate ids with different ``updatedAt`` (newest wins), null ids,
    blank questions, null-literal strings, mixed boolean/numeric formats,
    excluded keyword collisions, orphan references (to events and series
    that do not exist) and an apostrophe that breaks an embedded JSON.

    Every market, event and series id is drawn from one namespace, so
    embedded references resolve unless deliberately made orphan; the
    expected gold counts are tallied while generating."""
    rng = np.random.default_rng(seed)
    day0 = datetime(2026, 1, 1)
    when = lambda: day0 + timedelta(seconds=int(rng.integers(0, N_DAYS * 86400)))  # noqa: E731
    pick = lambda opts: opts[int(rng.integers(0, len(opts)))]  # noqa: E731
    tag_labels = [f"Tag{t}" for t in range(N_TAGS)]

    series: list[tuple] = []
    series_ids = [f"s{i}" for i in range(n_series)]
    for sid in series_ids:
        series.append((
            sid,
            None if rng.random() < 0.2 else f"{sid}-slug",
            f"Series {sid}",
            None if rng.random() < 0.3 else f"about {sid}",
            _iso(when()),
        ))
    series.append((None, "ghost", "dropped", None, _iso(when())))  # null id → dropped
    series.append((series_ids[0], "older", "older", None, "2025-01-01T00:00:00"))

    events: list[tuple] = []
    event_ids = [f"e{i}" for i in range(n_events)]
    ev_tags: dict[str, set[str]] = {}
    for eid in event_ids:
        tags = sorted({pick(tag_labels) for _ in range(int(rng.integers(0, 4)))})
        ev_tags[eid] = set(tags)
        if rng.random() < 0.5:
            tag_json = "[" + ", ".join(f"'{t}'" for t in tags) + "]"
        else:
            tag_json = "[" + ", ".join(
                f"{{'id': '{t.lower()}', 'label': '{t}', 'slug': '{t.lower()}'}}" for t in tags
            ) + "]"
        r = rng.random()
        sid_json, sid_explicit = (
            (f"[{{'id': '{pick(series_ids)}'}}]", None) if r < 0.5
            else (f"{{'id': '{pick(series_ids)}'}}", None) if r < 0.7
            else ("[]", "s_missing") if r < 0.8  # FK-invalid → serie_id NULL
            else (None, pick(series_ids))
        )
        created = when()
        events.append((
            eid,
            None if rng.random() < 0.1 else f"Event {eid}",
            f"T{eid.upper()}",
            f"{eid}-slug",
            None if rng.random() < 0.2 else "Esports",
            None if rng.random() < 0.3 else "Games",
            pick(BOOLS), pick(BOOLS), pick(BOOLS),
            pick(NULLISH) if rng.random() < 0.3 else "official",
            tag_json, sid_json, sid_explicit,
            _iso(created), _iso(created + timedelta(days=5)), _iso(created),
            _iso(created), "bad-date" if rng.random() < 0.05 else _iso(created + timedelta(days=90)),
        ))
    # an older duplicate (loses the dedup) and a null-id row (dropped)
    events.append((event_ids[0], "old", "OLD", "old", None, None, "0", "0", "0", None,
                   "['ShouldNotAppear']", "[]", None, "2025-01-01T00:00:00",
                   "2025-01-02T00:00:00", None, None, None))
    events.append((None, "ghost", None, None, None, None, None, None, None, None,
                   "['Ghost']", None, None, None, None, None, None, None))

    markets: list[tuple] = []
    n_gaming = n_bridge = 0
    dates: set = set()
    for i in range(n_markets):
        mid = f"m{i}"
        r = rng.random()
        kind = "gaming" if r < 0.8 else "non" if r < 0.9 else "excluded"
        tmpl = pick(GAMING_QUESTIONS if kind == "gaming" else NON_GAMING if kind == "non" else EXCLUDED)
        question = tmpl.format(n=i)
        if rng.random() < 0.05:
            question = "  " + question + "\t"
        refs = sorted({pick(event_ids) for _ in range(int(rng.integers(0, 3)))})
        orphan = rng.random() < 0.1
        parts = [f"{{'id': '{e}', 'title': 'Event {e}'}}" for e in refs]
        if orphan:
            parts.append("{'id': 'e_missing', 'title': 'ghost'}")
        broken = rng.random() < 0.02 and bool(parts)
        if broken:  # an apostrophe corrupts the whole embedded JSON → no bridge rows
            parts[0] = parts[0].replace("'Event", "'Team's")
        events_json = "[" + ", ".join(parts) + "]"
        upd = when()
        vol = float(rng.uniform(0, 5e5))
        row = [
            mid, question, None if rng.random() < 0.1 else pick(NULLISH + [f"{mid}-slug"]),
            pick(BOOLS), pick(BOOLS), pick(BOOLS),
            None if rng.random() < 0.05 else pick(NUM_FORMATS).format(vol),
            pick(NULLISH) if rng.random() < 0.1 else f"{rng.uniform(0, 1e4):.2f}",
            f"{rng.random():.3f}", f"{rng.random():.3f}", f"{rng.random():.3f}",
            f"{rng.random() / 10:.3f}", f"{rng.integers(0, 1000)}",
            pick(["['Yes', 'No']", "['A', 'B', 'C']", "['Over','Under']", "[]"]),
            "['0.5','0.5']", events_json,
            pick(NULLISH + ["official"]), pick(["bad-date", _iso(upd + timedelta(days=60))]),
            _iso(upd - timedelta(days=30)), _iso(upd),
        ]
        if rng.random() < 0.05:
            # an older copy of the same id with another question: the
            # newest row must win the dedup
            stale = list(row)
            stale[1] = pick(NON_GAMING).format(n=i)
            stale[-1] = _iso(upd - timedelta(days=1))
            markets.append(tuple(stale))
        markets.append(tuple(row))
        if kind == "gaming":
            n_gaming += 1
            dates.add(upd.date())
            if not broken:
                n_bridge += len(refs)
    markets.append((None, "CS:GO major winner?") + (None,) * 18)  # null id → dropped
    markets.append(("m_blank", "   ") + (None,) * 18)  # blank question → dropped
    order = rng.permutation(len(markets))
    markets = [markets[k] for k in order]

    ev_pairs = sum(len(t) for t in ev_tags.values())
    tags_used = set().union(*ev_tags.values()) if ev_tags else set()
    return Bronze(
        markets=markets,
        events=events,
        series=series,
        expected={
            "dim_fecha": len(dates),
            "dim_videojuego": 13,
            "dim_serie_gaming": n_series,
            "dim_evento_gaming": n_events,
            "dim_tag_gaming": len(tags_used),
            "dim_mercado_gaming": n_gaming,
            "fact_mercado_evento_gaming": n_bridge,
            "fact_evento_tag_gaming": ev_pairs,
            "fact_metricas_gaming": n_gaming,
        },
    )


def write_bronze(b: Bronze, out_dir: str) -> None:
    """Bronze as string-typed parquet, one directory per entity."""
    for name, rows, cols in (
        ("markets", b.markets, MARKET_COLS),
        ("events", b.events, EVENT_COLS),
        ("series", b.series, SERIES_COLS),
    ):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        data = {c: pa.array([r[k] for r in rows], type=pa.string()) for k, c in enumerate(cols)}
        pq.write_table(pa.table(data), os.path.join(d, "part-0.parquet"))
