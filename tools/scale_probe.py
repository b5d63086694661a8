"""Scale probe: measure how the hot operators behave when the corpus grows
10× — evidence for SCALE.md's linearity claims, not a benchmark the driver
runs.

Method: read the sf0.1 documents table (~5 K docs), then synthesize a 10×
corpus by unioning 10 id-shifted copies WITH per-copy text salting (a copy
index token appended) so near-dup candidate generation isn't flooded by
10 exact copies of every doc — the probe measures throughput scaling, not
a pathological 100%-duplicate corpus. Each operator is timed at 1× and
10×; linear scaling shows as a time ratio ≈ 10 (sub-linear is better —
fixed overheads amortize).

Run: python tools/scale_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from ra2_datalake_linaresjoan_spark.session import get_spark


def scaled_docs(docs: DataFrame, copies: int) -> DataFrame:
    n = docs.select(F.max("doc_id")).first()[0] + 1
    k = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("k")
    return docs.select("*", k).select(
        (F.col("doc_id") + F.col("k") * n).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" copytok"), F.col("k")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def probe(spark, docs: DataFrame) -> dict[str, float]:
    from ra2_datalake_linaresjoan_spark.llmdata.dedup import (
        exact_dedup,
        minhash_lsh_candidates,
    )
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        pii_counts,
        quality_score,
    )

    docs = docs.localCheckpoint()  # isolate op cost from the synth-union cost
    out: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 3)

    timed("exact_dedup", lambda: exact_dedup(docs, "doc_id", "text").count())
    timed(
        "minhash_lsh",
        lambda: minhash_lsh_candidates(docs, "doc_id", "text").count(),
    )
    e, p = pii_counts(F.col("text"))
    timed(
        "pii_scan",
        lambda: docs.select(F.sum(e + p)).first(),
    )
    timed(
        "quality_score",
        lambda: docs.select(F.avg(quality_score(F.col("text")))).first(),
    )

    # Bloom membership (batch-vs-corpus pre-dedup): bit-set build +
    # broadcast probe — the incremental-ingest hot path
    def bloom():
        h = docs.select(F.md5("text").alias("h"))
        bits = (
            h.select(
                F.explode(
                    F.array(
                        *[
                            F.conv(F.substring("h", 1 + 8 * j, 8), 16, 10).cast(
                                "long"
                            )
                            % 65536
                            for j in range(3)
                        ]
                    )
                ).alias("bit")
            )
            .distinct()
        )
        probe_bits = docs.filter(F.col("doc_id") % 10 == 3).select(
            F.md5("text").alias("h")
        )
        probe_bits = probe_bits.select(
            "h",
            F.explode(
                F.array(
                    *[
                        F.conv(F.substring("h", 1 + 8 * j, 8), 16, 10).cast("long")
                        % 65536
                        for j in range(3)
                    ]
                )
            ).alias("bit"),
        )
        probe_bits.join(F.broadcast(bits), "bit").groupBy("h").count().count()

    timed("bloom_membership", bloom)

    # span-level dedup shuffle (16-word windows → min-struct survivor)
    def spans():
        w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        sh = docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size({w}) - 15, 1)),"
                    " i -> concat_ws(' ', slice({w}, i, 16)))".format(
                        w="split(trim(lower(text)), '\\\\s+')"
                    )
                )
            ).alias("span"),
        )
        sh.groupBy("span").agg(F.min("doc_id")).count()

    timed("span_group", spans)

    # round-4 hot operators ------------------------------------------------

    # canonicalization-class dedup: in-row normalize + one fingerprint
    # shuffle (same shape as exact dedup)
    def canon():
        key = F.md5(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")))
        docs.select(key.alias("fp")).groupBy("fp").count().count()

    timed("canonical_fp", canon)

    # character entropy: pure in-row fold, zero shuffles — should scale
    # as a plain scan (ratio ≈ copies)
    def entropy():
        from ra2_datalake_linaresjoan_spark.queries_llm10 import char_entropy_col

        docs.select(F.avg(char_entropy_col())).first()

    timed("char_entropy", entropy)

    # count-min sketch build: postings → vocab counts → D×W cell sums
    def cms():
        words = docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
        ).filter(F.length("word") >= 3)
        wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        for j in range(3):
            (
                wc.select(
                    (
                        F.conv(F.substring(F.md5("word"), 1 + 8 * j, 8), 16, 10)
                        .cast("long")
                        % 1024
                    ).alias("cell"),
                    "n",
                )
                .groupBy("cell")
                .agg(F.sum("n"))
                .count()
            )

    timed("cms_build", cms)

    # BM25 scoring for a fixed 3-term query: postings + per-doc length
    # + term stats joins
    def bm25():
        tok = docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
        ).filter(F.col("word") != "")
        dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
        tf = (
            tok.filter(F.col("word").isin("spark", "query", "window"))
            .groupBy("doc_id", "word")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        tf.join(dl, "doc_id").groupBy("doc_id").agg(
            F.sum(F.col("tf") / (F.col("tf") + 1.2 * F.col("dl")))
        ).count()

    timed("bm25_score", bm25)

    # round-5 hot operators ------------------------------------------------

    # containment candidate generation: distinct 4-gram shingles →
    # df-capped inverted-index self-join (the containment_pairs shape)
    def containment_block():
        words = docs.select(
            "doc_id",
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"), lambda x: x != ""
            ).alias("w"),
        )
        sh = (
            words.filter(F.size("w") >= 4)
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(0), F.size("w") - 4),
                            lambda j: F.concat_ws(" ", F.slice("w", j + 1, 4)),
                        )
                    )
                ).alias("shingle"),
            )
            .localCheckpoint()
        )
        df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        kept = sh.join(df_tab.filter(F.col("df") <= 20), "shingle")
        (
            kept.alias("a")
            .join(kept.alias("b"), "shingle")
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id"), F.col("b.doc_id"))
            .count()
            .count()
        )

    timed("containment_block", containment_block)

    # count-bucket rank table (the vocab_coverage_curve shape): the
    # global-window input is the distinct-count table — its growth at
    # 10× shows why the per-word window was replaced
    def vocab_buckets():
        wc = (
            docs.select(
                F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
            )
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        wc.groupBy("n").agg(F.count(F.lit(1))).count()

    timed("vocab_buckets", vocab_buckets)

    # Efraimidis–Spirakis weighted top-k: scan + bounded heap — should
    # amortize to near scan-linear
    def weighted_topk():
        u = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 32))
        (
            docs.filter(F.col("n_chars") > 0)
            .select("doc_id", (F.log(u) / F.col("n_chars")).alias("k"))
            .orderBy(F.desc("k"))
            .limit(50)
            .count()
        )

    timed("weighted_topk", weighted_topk)

    # round-6 hot operators ------------------------------------------------

    # Gopher-style multi-rule quality gate: pure in-row word stats + one
    # 1-row aggregate — should scale as a plain scan
    def gopher_rules():
        words = docs.select(
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"), lambda x: x != ""
            ).alias("w")
        )
        stats = words.select(
            F.size("w").alias("wc"),
            F.aggregate(
                "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).alias("chars"),
            F.size(F.array_distinct("w")).alias("uniq"),
        )
        stats.agg(
            F.sum((F.col("wc") < 30).cast("long")),
            F.sum((F.col("chars") > 8 * F.col("wc")).cast("long")),
            F.sum((F.col("uniq") < 0.3 * F.col("wc")).cast("long")),
        ).first()

    timed("gopher_rules", gopher_rules)

    # LSH bucket-load audit (minhash_bucket_skew shape): shingle shuffle
    # → 8 min-hashes → band explode → (band, bucket) sizes
    def lsh_bucket_audit():
        words = docs.select(
            "doc_id",
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"), lambda x: x != ""
            ).alias("w"),
        )
        sh = words.filter(F.size("w") >= 3).select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("w") - 3),
                        lambda j: F.concat_ws(" ", F.slice("w", j + 1, 3)),
                    )
                )
            ).alias("shingle"),
        )
        per_doc = sh.groupBy("doc_id").agg(
            *[
                F.min(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.lit(i), "shingle")), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                ).alias(f"h{i}")
                for i in range(8)
            ]
        )
        band_arr = F.array(
            *[
                F.concat_ws(
                    ":", F.lit(b), F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                )
                for b in range(4)
            ]
        )
        (
            per_doc.select(F.posexplode(band_arr).alias("band", "bucket"))
            .groupBy("band", "bucket")
            .count()
            .groupBy("band")
            .agg(F.max("count"), F.count(F.lit(1)))
            .count()
        )

    timed("lsh_bucket_audit", lsh_bucket_audit)

    # round-7 hot operators ------------------------------------------------

    # equi-width quantile histogram build + estimate (the streaming
    # quantile sketch's batch kernel): one 256-key aggregate over a
    # per-row bucket expression, then windows over the ≤256-row
    # histogram only — should scale as a plain scan
    def quantile_hist_kernel():
        from ra2_datalake_linaresjoan_spark.streaming.sketches import (
            quantile_estimate,
            quantile_hist,
        )

        h = quantile_hist(
            docs.select(F.length("text").cast("double").alias("v")),
            "v",
            0.0,
            4096.0,
        )
        quantile_estimate(h, (0.05, 0.5, 0.95), 0.0, 4096.0).count()

    timed("quantile_hist", quantile_hist_kernel)

    # Poisson-bootstrap weight fan-out (the poisson_bootstrap_ci map
    # kernel, via the SHARED _pb_u16/_pb_w_of builders in the query's
    # flat shape, so the probe always measures the shipped kernel):
    # explode(sequence) → two-step 32-bit LCG → 40 16-bit integer-cut
    # weights per row, one 40-key aggregate
    def poisson_weights():
        from ra2_datalake_linaresjoan_spark.queries_ext27 import (
            _PB_B,
            _pb_u16,
            _pb_w_of,
        )

        (
            docs.select(
                F.col("n_chars").alias("x"),
                "doc_id",
                F.explode(F.sequence(F.lit(1), F.lit(_PB_B))).alias("b"),
            )
            .select("x", "b", _pb_u16(F.col("doc_id"), F.col("b")).alias("u16"))
            .select("x", "b", _pb_w_of(F.col("u16")).alias("w"))
            .groupBy("b")
            .agg(F.sum(F.col("w") * F.col("x")), F.sum("w"))
            .collect()  # not count(): it would prune the weight columns
        )

    timed("poisson_weights", poisson_weights)

    # round-8 hot operators ------------------------------------------------

    # liquid re-clustering manifest math: per-file spans + wide-file
    # flags + closed-form value-bucket regroup of the rewritten rows —
    # all file/bucket-grain aggregates, should scale as ~one scan
    def liquid_recluster():
        d = docs.select(
            (F.col("doc_id") / 128).cast("long").alias("file_id"), "n_chars"
        ).where(F.col("n_chars").isNotNull())
        glob = d.agg(
            F.min("n_chars").alias("glo"),
            F.max("n_chars").alias("ghi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        files = d.groupBy("file_id").agg(
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).crossJoin(F.broadcast(glob))
        wide = (
            (F.col("mx") - F.col("mn")) * F.col("n_rows")
            > 2 * (F.col("ghi") - F.col("glo")) * F.col("n")
        )
        rew = files.where(wide).select("file_id", "glo", "ghi")
        d.join(rew, "file_id").groupBy(
            F.floor(
                (F.col("n_chars") - F.col("glo")).cast("long")
                * 64
                / (F.col("ghi") - F.col("glo") + 1)
            ).alias("nfid")
        ).agg(F.count(F.lit(1))).count()

    timed("liquid_recluster", liquid_recluster)

    # histogram KS drift: ONE conditional-count scan into the 256-row
    # joint table + the exact-integer rational max over it
    def ks_drift():
        from ra2_datalake_linaresjoan_spark.streaming.sketches import (
            ks_from_joint,
            quantile_bucket,
        )

        joint = (
            docs.select(
                F.length("text").cast("double").alias("v"),
                (F.col("doc_id") % 2 == 0).cast("long").alias("is_ref"),
            )
            .select(
                quantile_bucket("v", 0.0, 4096.0).alias("bucket"), "is_ref"
            )
            .groupBy("bucket")
            .agg(
                F.sum("is_ref").alias("na"),
                F.sum(F.lit(1) - F.col("is_ref")).alias("nb"),
            )
        )
        ks_from_joint(joint).count()

    timed("ks_drift", ks_drift)
    return out


def scaled_emb(emb: DataFrame, copies: int) -> DataFrame:
    n = emb.select(F.max("vec_id")).first()[0] + 1
    k = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("k")
    return emb.select("vec_id", "embedding", k).select(
        (F.col("vec_id") + F.col("k") * n).alias("vec_id"),
        # per-copy perturbation so the 10x corpus is not 10 exact
        # duplicates of every vector (ties would distort the argmins,
        # not the timings — but keep the geometry honest)
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.col("k") * 0.001,
        ).alias("embedding"),
    )


def probe_emb(spark, emb: DataFrame) -> dict[str, float]:
    """IVF-PQ scaling: index build (cells + codes) and the ADC search
    path for a fixed query sample — the production claim is that BOTH
    scale as ~one corpus scan (the exact-recall baseline is audit-only
    and intentionally not probed)."""
    from ra2_datalake_linaresjoan_spark import queries_ext38 as x8
    from pyspark.sql import Window

    emb = emb.select(
        "vec_id", F.col("embedding").alias("v")
    ).localCheckpoint()
    out: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 3)

    seeds = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cid"),
            F.col("v").alias("c"),
        )
    )

    def per_cent(frame):
        wide = frame.crossJoin(F.broadcast(seeds)).select(
            "vec_id",
            "cid",
            *[x8._ip_subq(s).alias(f"s{s}") for s in range(8)],
        )
        total = F.lit(0).cast("long")
        for s in range(8):
            total = total + F.col(f"s{s}")
        return wide.withColumn("fullq", total)

    def index_build():
        pc = per_cent(emb)
        pc.groupBy("vec_id").agg(
            F.min(F.struct("fullq", "cid"))
        ).count()  # cells
        pc.select(
            "vec_id",
            "cid",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(s).alias("sub"), F.col(f"s{s}").alias("dq"))
                        for s in range(8)
                    ]
                )
            ).alias("m"),
        ).groupBy("vec_id", "m.sub").agg(
            F.min(F.struct(F.col("m.dq").alias("dq"), "cid"))
        ).count()  # codes

    timed("ivfpq_index_build", index_build)

    def adc_search():
        # the full search path minus the exact baseline (audit-only),
        # built from the SAME _ip_subq expressions the shipped query uses
        pc = per_cent(emb)
        cells = pc.groupBy("vec_id").agg(
            F.min(F.struct("fullq", "cid")).alias("b")
        ).select("vec_id", F.col("b.cid").alias("cell"))
        codes = pc.select(
            "vec_id",
            "cid",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(s).alias("sub"), F.col(f"s{s}").alias("dq"))
                        for s in range(8)
                    ]
                )
            ).alias("m"),
        ).select("vec_id", "cid", "m.sub", "m.dq").groupBy(
            "vec_id", "sub"
        ).agg(F.min(F.struct("dq", "cid")).alias("b")).select(
            "vec_id", "sub", F.col("b.cid").alias("code")
        )
        qids = emb.where(F.col("vec_id") % 200 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        qpc = per_cent(
            qids.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("v"))
        )
        wq = Window.partitionBy("vec_id").orderBy("fullq", "cid")
        probes = (
            qpc.withColumn("rk", F.row_number().over(wq))
            .where(F.col("rk") <= 4)
            .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
        )
        adc_tab = qpc.select(
            F.col("vec_id").alias("query_id"),
            "cid",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(s).alias("sub"), F.col(f"s{s}").alias("partq"))
                        for s in range(8)
                    ]
                )
            ).alias("m"),
        ).select("query_id", "cid", "m.sub", "m.partq")
        cand = (
            probes.join(cells, "cell")
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )
        (
            cand.join(codes, cand["neighbor_id"] == codes["vec_id"])
            .join(
                F.broadcast(adc_tab),
                (adc_tab["query_id"] == cand["query_id"])
                & (adc_tab["cid"] == codes["code"])
                & (adc_tab["sub"] == codes["sub"]),
            )
            .groupBy(cand["query_id"].alias("query_id"), "neighbor_id")
            .agg(F.sum("partq").alias("adcq"))
            .count()
        )

    timed("ivfpq_adc_search", adc_search)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="scale_probe")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    probe(spark, scaled_docs(docs, 1))  # warm-up: JVM, codegen, Arrow workers
    base = probe(spark, scaled_docs(docs, 1))
    big = probe(spark, scaled_docs(docs, 10))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe_emb(spark, scaled_emb(emb, 1))  # warm-up
    base.update(probe_emb(spark, scaled_emb(emb, 1)))
    big.update(probe_emb(spark, scaled_emb(emb, 10)))
    report = {
        "sf_dir": sf_dir,
        "rows_1x": docs.count(),
        "t_1x": base,
        "t_10x": big,
        "scale_ratio": {
            k: round(big[k] / base[k], 2) if base[k] > 0 else None for k in base
        },
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
