"""Keyword classifiers as ordered ``CASE WHEN`` chains (SURVEY.md §2.8 F7/F8).

Behavior mirrors reference ``src/utils/transformer_data.py:393-455``:
first-match-wins over an ordered keyword table; null question → null;
no match → the documented default label. Each classifier is one SQL
expression (text in, text out, like ``functions.normalize``), so
classification runs JVM-side at full scan speed and costs one parse on
the driver.
"""

from __future__ import annotations

from ra2_datalake_linaresjoan_spark.functions.sql import ascii_fold, sql_str

#: Ordered (label, substring-keywords) table — order is semantic
#: (DOTA before Valorant before CS:GO…, reference transformer_data.py:405-419).
GAME_KEYWORDS: list[tuple[str, list[str]]] = [
    ("DOTA", ["dota", "dota 2", "dota2", "the international", "ti8", "ti9", "ti10", "ti11", "ti12", "ti13"]),
    ("Valorant", ["valorant", "vct ", "valorant champions"]),
    ("CS:GO", ["cs:go", "csgo", "counter-strike", "blast premier", "blast bounty", "esl pro", "iem ", "faceit", "pgl major"]),
    ("League of Legends", ["league of legends", "leagueoflegends", "lck ", "lcs ", "lec ", "worlds 20", "msi 20"]),
    ("Fortnite", ["fortnite"]),
    ("Overwatch", ["overwatch", "owcs"]),
    ("Apex Legends", ["apex legends", "apex legends global"]),
    ("Call of Duty", ["call of duty league", "cod league", "cdl "]),
    ("Hearthstone", ["hearthstone", "hct "]),
    ("StarCraft", ["starcraft", "starcraft 2", "sc2"]),
    ("Rocket League", ["rocket league", "rlcs"]),
    ("Rainbow Six", ["rainbow six", "r6 siege", "six invitational"]),
    ("Esports General", ["esports", "esport"]),
]

DEFAULT_GAME = "Esports General"


def _fold(question: str) -> str:
    """ASCII fold for classifier matching: the keyword tables above are
    all-ASCII, so the 26-letter translate fold suffices — and unlike a
    full ``lower()`` it cannot fold non-ASCII INTO ASCII (U+212A Kelvin →
    'k') and complete a keyword the raw text does not contain (round-12
    fold contract).  Bit-identical to ``lower()`` on ASCII text."""
    return ascii_fold(f"CAST({question} AS STRING)")


def _any(q: str, *keywords: str) -> str:
    """The folded question ``q`` contains at least one of ``keywords``."""
    return "(" + " OR ".join(f"contains({q}, {sql_str(k)})" for k in keywords) + ")"


def _first_match(q: str, rules: list[tuple[str, str]], default: str) -> str:
    """First-match-wins ``(label, condition)`` chain; a null or empty
    question classifies as null."""
    whens = " ".join(f"WHEN {cond} THEN {sql_str(label)}" for label, cond in rules)
    return (
        f"CASE WHEN {q} IS NULL OR {q} = '' THEN CAST(NULL AS STRING) "
        f"ELSE CASE {whens} ELSE {sql_str(default)} END END"
    )


def extract_gaming_type(question: str) -> str:
    """Ordered keyword → game label classifier (F7)."""
    q = _fold(question)
    return _first_match(
        q, [(label, _any(q, *kws)) for label, kws in GAME_KEYWORDS], DEFAULT_GAME
    )


def extract_bet_type(question: str) -> str:
    """Rule-chain bet-type classifier (F8) — order-sensitive, mirrors
    transformer_data.py:439-455."""
    q = _fold(question)
    rules = [
        ("Match Winner", _any(q, "will win")),
        ("Spread", _any(q, "spread", "by more than", "by less than")),
        ("Over/Under", f"{_any(q, 'over')} AND {_any(q, 'under')}"),
        ("Over/Under", f"{_any(q, 'total')} AND {_any(q, 'point', 'kill')}"),
        ("First Blood", f"{_any(q, 'first')} AND {_any(q, 'win')}"),
        ("MVP/Best Player", _any(q, "mvp", "best player")),
        ("Round/Map Winner", _any(q, "map", "round")),
    ]
    return _first_match(q, rules, "Prop Bet")
