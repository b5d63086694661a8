"""Round-13 optimization-round pins: behaviors the plan rewrites must
preserve, caught at the operator level so a future refactor can't
silently regress them.

- The one-scan Gram pass of ``pca_power_iteration`` must treat NULL
  embedding ELEMENTS as zero contributions (the join-aggregate shape it
  replaced skipped them in its sums).  Arrow hands a long array that
  carries nulls to pandas as a float64 ndarray with NaN — not a list
  with None — which is exactly the representation the first Gram
  implementation crashed on (``cannot convert float NaN to integer``,
  found by the null-riddled registry sweep).
- The one-scan BM25 shape must reproduce the old postings-shape df
  semantics under NULL doc_ids: all NULL-id docs used to collapse into
  ONE tf group (df counts it once) and then drop from the scored output
  via the tf⋈dl equi-join.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F  # noqa: F401


def _pca_reference(vectors):
    """Hand-run the exact integer Gram recursion (NULL-as-zero, 64 dims)."""
    g = [[0] * 64 for _ in range(64)]
    for x in vectors:
        for i in range(64):
            for j in range(64):
                g[i][j] += x[i] * x[j]
    v = [1] * 64
    for _ in range(3):
        w = [sum(g[i][j] * v[j] for j in range(64)) for i in range(64)]
        mx = max(abs(x) for x in w)
        v = [
            (wi * 1024) // mx if wi >= 0 else -((-wi * 1024) // mx)
            for wi in w
        ]
    return {i + 1: v[i] for i in range(64)}


def test_pca_irregular_corpus_routes_to_join_aggregate(spark, tmp_path):
    """A corpus with a NULL embedding ELEMENT must probe irregular and
    take the verbatim join-aggregate fallback, whose skip-NULL sums
    equal the zero-filled reference here (no all-NULL dim in this
    corpus); the original Gram pass crashed on exactly this input
    (Arrow hands a long array carrying nulls to pandas as float64 NaN),
    and the 64×64 Gram cannot represent ragged/NULL-dim corpora at all
    — found by the null-riddled sweep + the dirty-parity audit."""
    d = str(tmp_path / "pca_nulls")
    rows = [
        (1, [1.0, 2.0] + [0.0] * 62),
        (2, [3.0, None] + [0.0] * 62),
        (3, None),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{d}/embeddings.parquet")
    from ra2_datalake_linaresjoan_spark.queries_llm6 import (
        q_pca_power_iteration,
    )

    out = {r["dim"]: r["v"] for r in q_pca_power_iteration(spark, d).collect()}
    assert len(out) == 64
    assert out == _pca_reference(
        [[1000, 2000] + [0] * 62, [3000, 0] + [0] * 62]
    )


def test_pca_regular_corpus_gram_path_excludes_null_ids(spark, tmp_path):
    """On a regular corpus (every embedding exactly 64 non-NULL dims)
    the one-scan Gram path runs — and must exclude NULL-vec_id vectors,
    reproducing the old shape where the s⋈x join dropped them."""
    d = str(tmp_path / "pca_reg")
    rows = [
        (1, [1.0, 2.0] + [0.0] * 62),
        (2, [3.0, 1.0] + [0.0] * 62),
        (None, [9.0, 9.0] + [9.0] * 62),  # must contribute nothing
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{d}/embeddings.parquet")
    from ra2_datalake_linaresjoan_spark.queries_llm6 import (
        q_pca_power_iteration,
    )

    out = {r["dim"]: r["v"] for r in q_pca_power_iteration(spark, d).collect()}
    assert out == _pca_reference(
        [[1000, 2000] + [0] * 62, [3000, 1000] + [0] * 62]
    )


def test_bm25_one_scan_df_counts_null_id_group_once(spark, tmp_path):
    d = str(tmp_path / "bm25_nulls")
    rows = [
        (1, "spark spark is fast", "en", "s0", 19),
        (2, "no match here at all", "en", "s0", 20),
        (None, "spark appears in a null id doc", "en", "s0", 30),
        (None, "spark again in another null id doc", "en", "s0", 34),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    from ra2_datalake_linaresjoan_spark.queries_llm10 import bm25_scores

    out = bm25_scores(spark, d).collect()
    # NULL-id docs never surface in the scored output...
    assert [r["doc_id"] for r in out] == [1]
    # ...but the merged NULL group counts ONCE toward df: with 4 docs and
    # df("spark") = 2 (doc 1 + the single NULL group), the idf is
    # ln((4 - 2 + 0.5)/(2 + 0.5) + 1) — reproduce the full score exactly
    import math

    n_docs, n_tok, df_ = 4, 4 + 5 + 7 + 7, 2
    tf, dl = 2.0, 4
    idf = math.log((n_docs - df_ + 0.5) / (df_ + 0.5) + 1.0)
    denom = tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (n_tok / n_docs))
    expected = round(idf * (tf * 2.2) / denom, 4)
    assert out[0]["bm25"] == pytest.approx(expected, abs=1e-9)
