"""Self-tests of the benchmark's output checks, at tiny sizes.

Each check gets a positive case (the correct program passes it) and a
negative case (a known defect must make it fail):

- query oracle:  every mixed query matches its DuckDB oracle; a query
  compared against another query's oracle does not;
- lake_load:     generated bronze yields the expected gold counts; bronze
  whose embedded event references no longer resolve does not;
- stream replay: files stamped in arrival order replay without loss;
  files whose mtimes run backwards replay out of order, the watermark
  drops rows and the check fails.  (Tied mtimes replay in directory
  listing order, which depends on the filesystem — the reason the
  benchmark stamps arrival order — so they make no deterministic case.)

    python3 perfbench/selftest.py      (from the repository root; ~2 min)

Exits 0 when every case behaves as expected.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    base = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench_work"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(base, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.chdir(base)
    from ra2_datalake_linaresjoan_spark.session import get_spark
    from run import stop_spark
    from spans import SparkJobs, Tracer
    from workloads import Ctx, LakeLoad, Medallion, QueryMix, StreamReplay

    spark = get_spark(app_name="perfbench-selftest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    results: list[tuple[str, bool]] = []

    def ctx(name: str, seed: int = 7) -> Ctx:
        work = os.path.join(base, name)
        os.makedirs(work)
        return Ctx(spark, work, seed, Tracer(spark.sparkContext, name, False), SparkJobs(spark.sparkContext))

    def expect(name: str, should_pass: bool, ok: bool, why: str = "") -> None:
        good = ok == should_pass
        results.append((name, good))
        print(f"{'ok  ' if good else 'FAIL'} {name}: check {'passed' if ok else 'failed'} {why[:160]}", flush=True)

    try:
        # query oracle
        c = ctx("query_mix")
        qm = QueryMix(c, names=["pricing_summary", "containment_pairs"], scale=0.05)
        qm.setup()
        expect("query_mix oracle", True, not c.failures, "; ".join(c.failures))
        c = ctx("query_mix_wrong_oracle")
        qm = QueryMix(c, names=["pricing_summary"], scale=0.05)
        qm.oracle = {"pricing_summary": qm.oracle["median_orders"]}
        qm.setup()
        expect("query_mix wrong oracle", False, not c.failures, "; ".join(c.failures))

        # lake load: medallion half
        for name, broken in (("medallion", False), ("medallion_broken_refs", True)):
            m = Medallion(ctx(name), n_markets=300, break_refs=broken)
            m.setup()
            r = m.op(0)
            expect(name, not broken, r.ok, r.why)

        # lake load: stream half
        for arrival in ("ordered", "reversed"):
            s = StreamReplay(ctx(f"stream_{arrival}"), n_rows=6000, n_files=4, arrival=arrival)
            s.setup()
            r = s.op(0)
            expect(f"stream {arrival} arrival", arrival == "ordered", r.ok, r.why)

        # the composite fails when either half does
        ll = LakeLoad(ctx("lake_load_broken"), n_markets=300, break_refs=True, n_rows=6000, n_files=2)
        ll.setup()
        r = ll.op(0)
        expect("lake_load with broken refs", False, r.ok, r.why)
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(base, ignore_errors=True)

    bad = [n for n, good in results if not good]
    print(f"{len(results) - len(bad)}/{len(results)} self-tests behave as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
