"""Universal empty-input sweep: EVERY registered query must execute (not
raise) over structurally-identical empty tables — the degenerate partition
every 100-TB job eventually meets. Supersedes the per-batch empty-input
lists for coverage (those remain as faster targeted suites); this sweep is
what caught the cosine-neardup numpy normalizer crash and the PageRank
teleport ZeroDivisionError in round 5."""

from __future__ import annotations

import os

import pytest

from ra2_datalake_linaresjoan_spark import queries as q

SF = "/root/testdata/sf0.001"


def _force_evaluate(df) -> int:
    """collect(), NOT count(): Catalyst prunes every column under a
    count, so a count-based sweep never evaluates pure projections —
    the exact trap bench.py's noop-write note documents. This gap hid
    an ANSI element_at crash (holt) and several divide-by-zero crashes
    until the round-7 ext27 review executed the projections."""
    return len(df.collect())


def test_every_registered_query_survives_empty_tables(spark, empty_sf):
    failures = []
    for name, fn in q.queries().items():
        try:
            assert _force_evaluate(fn(spark, empty_sf)) >= 0
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
    assert not failures, "\n".join(failures)


def test_contamination_empty_train_rate_is_zero(spark, empty_sf):
    """The lazy rewrite must keep the pre-lazy contract: an empty train
    set reports contamination_rate 0.0, not NULL (bare engine-side
    division by zero yields NULL in both Spark and DuckDB)."""
    row = q.queries()["contamination"](spark, empty_sf).collect()[0]
    assert row["n_train"] == 0
    assert row["contamination_rate"] == 0.0


def test_char_entropy_zero_length_text(spark, tmp_path):
    """Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — the
    length guard must keep zero-length texts at entropy 0.0 instead of
    dividing by zero (DuckDB's range(1,1) is empty, so without the
    shared guard the engines would diverge)."""
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "", "en", "s0", 0), (2, "aaab", "en", "s0", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(d + "/documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in q.queries()["char_entropy_filter"](spark, d).collect()
    }
    assert rows[1]["char_entropy"] == 0.0
    assert rows[2]["char_entropy"] > 0.5 and rows[2]["low_entropy"]


@pytest.fixture(scope="module")
def identical_docs_sf(spark, tmp_path_factory):
    """Adversarial corpus: 200 documents with IDENTICAL text — one giant
    duplicate cluster, every shingle at df = n_docs (the worst case for
    inverted-index blocking), zero vocabulary diversity."""
    d = tmp_path_factory.mktemp("same_sf")
    for f in os.listdir(SF):
        if not f.endswith(".parquet"):
            continue
        df = spark.read.parquet(os.path.join(SF, f))
        if f == "documents.parquet":
            one = df.limit(1).collect()[0]
            rows = [
                (i, one["text"], one["lang"], one["source"], one["n_chars"])
                for i in range(200)
            ]
            spark.createDataFrame(rows, df.schema).write.mode("overwrite").parquet(
                str(d / f)
            )
        else:
            df.limit(50).write.mode("overwrite").parquet(str(d / f))
    return str(d)


def test_every_registered_query_survives_identical_docs(spark, identical_docs_sf):
    """Degenerate-diversity robustness: a giant dup cluster and df-
    saturated shingles must degrade gracefully everywhere (df caps drop
    candidates, windows see one big partition, entropy goes to 0) —
    never raise."""
    failures = []
    for name, fn in q.queries().items():
        try:
            assert _force_evaluate(fn(spark, identical_docs_sf)) >= 0
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def null_riddled_sf(spark, tmp_path_factory):
    """Adversarial NULL corpus: every table keeps its schema and ~50 real
    rows, but one row in three has EVERY nullable column nulled — keys,
    text, values, timestamps. The round-7 NULL-safety review found three
    audits that were silently WRONG (not crashing) on such data; this
    sweep at least pins the no-crash half of the contract for all
    registered queries.

    Round-8 extension (r7 verdict task 7): ARRAY columns get a second
    null mode — one row in three KEEPS the array but nulls every third
    ELEMENT. Element-interior nulls are a distinct crash class from
    whole-column nulls (`map_ops`' NULL_MAP_KEY came from an element-
    level null, and an `isNotNull` filter on the column passes them
    straight through)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType

    d = tmp_path_factory.mktemp("nulls_sf")
    for f in os.listdir(SF):
        if not f.endswith(".parquet"):
            continue
        df = spark.read.parquet(os.path.join(SF, f)).limit(60)
        nullable = [fl.name for fl in df.schema.fields if fl.nullable]

        def _nulled(fl):
            rid = F.monotonically_increasing_id()
            whole_null = F.when(
                (rid % 3 == 0) & F.lit(fl.name in nullable),
                F.lit(None).cast(fl.dataType),
            )
            if isinstance(fl.dataType, ArrayType):
                holed = F.transform(
                    F.col(fl.name),
                    lambda x, i: F.when(i % 3 == 0, F.lit(None)).otherwise(x),
                )
                return (
                    whole_null.when(rid % 3 == 1, holed)
                    .otherwise(F.col(fl.name))
                    .alias(fl.name)
                )
            return whole_null.otherwise(F.col(fl.name)).alias(fl.name)

        out = df.select(*[_nulled(fl) for fl in df.schema.fields])
        out.write.mode("overwrite").parquet(str(d / f))
    return str(d)


def test_every_registered_query_survives_null_riddled_tables(
    spark, null_riddled_sf
):
    failures = []
    for name, fn in q.queries().items():
        try:
            assert _force_evaluate(fn(spark, null_riddled_sf)) >= 0
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
    assert not failures, "\n".join(failures)
