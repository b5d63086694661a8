"""Round-14 optimization guards: the plan/operator properties this
round's rewrites introduced, pinned so a refactor cannot silently lose
them.

- poisson_bootstrap_ci's fan-out must stay a flat codegen explode of a
  sequence (no higher-order transform in the fan-out plan) — the r13
  shape evaluated the LCG interpreted, 7x per replicate.
- incremental_dedup's fingerprint_col path must return exactly the rows
  of the computed path (operator-internals change → focused parity
  test).
- the repeated-subtree fixes (tfidf_cosine_pairs bigram table,
  incremental_dedup fingerprint table) must keep their corpus scans out
  of the final plan.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark import queries as q


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _plan(spark, sf_dir, name: str) -> str:
    return _explain(spark, q.queries()[name](spark, sf_dir))


def _logical_nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _logical_nodes(children.apply(i))


def test_poisson_fanout_is_flat_codegen_explode(spark, sf_dir):
    """The replicate fan-out explodes a plain sequence and computes the
    weight in flat projections: no `transform(` higher-order call may
    appear in the plan (interpreted per element), and the u16 uniform
    must be materialized once — the stage-1 LCG expression appears in
    ONE projection, not seven comparison branches."""
    from ra2_datalake_linaresjoan_spark.queries_ext27 import _PB_A, _PB_C, _PB_M32

    df = q.queries()["poisson_bootstrap_ci"](spark, sf_dir)
    plan = _explain(spark, df)
    assert "transform(" not in plan
    # the sequence literal constant-folds, so the Generate explodes a
    # literal array — never a transform-built struct array
    explodes = [
        node.generator().child()
        for node in _logical_nodes(df._jdf.queryExecution().optimizedPlan())
        if node.nodeName() == "Generate" and node.generator().prettyName() == "explode"
    ]
    assert [(c.nodeName(), c.dataType().typeName()) for c in explodes] == [("Literal", "array")]
    # the two-step LCG runs once per (row, replicate): the full stage-1
    # expression is computed by exactly one projection
    stage1 = re.compile(
        rf"\(\(pmod\(o_orderkey#\d+L?, {_PB_M32}\) \* {_PB_A}\) "
        rf"\+ \(cast\(b#\d+ as bigint\) \* {_PB_C}\)\) \+ 12345\)"
    )
    assert len(stage1.findall(plan)) == 1


def test_incremental_dedup_fingerprint_col_parity(spark):
    """The precomputed-fingerprint path must return exactly the computed
    path's rows (same anti-join/window semantics on identical values),
    including the NULL-text and NULL-id pass-through contracts."""
    from ra2_datalake_linaresjoan_spark.llmdata.dedup import (
        incremental_dedup,
    )
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        doc_fingerprint,
    )

    batch = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha beta"),  # in-batch dup of 1 → dropped
            (3, "gamma delta"),  # dup of corpus → dropped
            (4, None),  # NULL text → passes
            (None, "zeta"),  # NULL id → passes
            (5, "zeta"),
            (6, "unique doc"),
        ],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [(100, "gamma delta"), (101, "other")], "doc_id int, text string"
    )
    computed = incremental_dedup(batch, corpus, "doc_id", "text")
    fb = batch.withColumn("fp", doc_fingerprint(F.col("text")))
    fc = corpus.withColumn("fp", doc_fingerprint(F.col("text")))
    pre = incremental_dedup(fb, fc, "doc_id", "text", fingerprint_col="fp")

    def key(r):
        return (
            r["doc_id"] is None,
            r["doc_id"] or 0,
            r["text"] or "",
            r["fingerprint"] or "",
        )

    a = sorted(
        ((r["doc_id"], r["text"], r["fingerprint"]) for r in computed.collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1] or "", t[2] or ""),
    )
    b = sorted(
        ((r["doc_id"], r["text"], r["fingerprint"]) for r in pre.collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1] or "", t[2] or ""),
    )
    assert a == b
    ids = {r[0] for r in a}
    assert ids == {1, 4, None, 5, 6}
    # a batch whose own 'fingerprint' column differs from fingerprint_col
    # is rejected rather than silently overwritten
    stale = fb.withColumn("fingerprint", F.lit("stale"))
    with pytest.raises(ValueError, match="fingerprint"):
        incremental_dedup(stale, fc, "doc_id", "text", fingerprint_col="fp")


def test_incremental_dedup_query_reads_fingerprint_checkpoint(
    spark, sf_dir
):
    """The audited r14-before plan scanned documents NINE times (the
    md5-fingerprint regex chain re-ran per scan); the checkpointed
    fingerprint table must keep every parquet scan out of the final
    plan."""
    plan = _plan(spark, sf_dir, "incremental_dedup")
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_tfidf_cosine_pairs_single_corpus_scan(spark, sf_dir):
    """tfb (the distinct doc-bigram table) is checkpointed for its three
    consumers; the only parquet scans left in the final plan are the
    1-row n_docs count (duplicated under the two blocked self-join
    sides) — the before-plan re-tokenized documents six times."""
    plan = _plan(spark, sf_dir, "tfidf_cosine_pairs")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") <= 2
    # no posexplode of the corpus may survive in the final plan — the
    # tokenize subtrees live inside the two checkpoints now
    assert "Generate posexplode" not in tree
    assert "Scan ExistingRDD" in plan


def test_quantile_sketch_stitch_is_broadcast(spark, sf_dir):
    """The 5-row est⋈exact stitch must stay a broadcast join — Catalyst
    size estimates planned a SortMergeJoin over two 5-row aggregates."""
    plan = _plan(spark, sf_dir, "quantile_sketch_audit")
    assert "SortMergeJoin" not in plan
