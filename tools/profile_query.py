#!/usr/bin/env python
"""Targeted per-query profiler for optimization work: for the named
queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], each sample
reports the builder's seconds, its py4j round trips, the seconds of
force_count (all-columns forcing) on the built DataFrame, and the Spark
jobs each of the two launched (``build_jobs``, ``force_jobs``; counted
under a job tag per phase, so a drained stream's micro-batch jobs
count too) and the generated classes each compiled (``build_compiles``,
``force_compiles``; JVM-wide counts, 0 on a warm run whose classes
are still in Spark's codegen cache); optionally dumps the formatted
physical plan. The first line of output records the shuffle partitions and
default parallelism the samples ran under.

Usage: python tools/profile_query.py name[,name...] [--runs N] [--plan DIR]
       python tools/profile_query.py --plans-all DIR   # dump plans only

Timing methodology: the un-wrapped ``Query.raw`` builder, clearCache +
JVM gc outside the timed region, force_count inside, ensure_runtime_conf
after — the same hygiene perfbench does around its own operations.
Round trips are the commands the builder's thread sends to the JVM
(``measure.round_trips``); thousands of them mean a Column chain that
belongs in SQL text.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    names: list[str] = []
    runs = 3
    plan_dir: str | None = None
    plans_all: str | None = None
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--plan":
            plan_dir = args[i + 1]; i += 2
        elif a == "--plans-all":
            plans_all = args[i + 1]; i += 2
        else:
            names.extend(x for x in a.split(",") if x)
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from big_data_projects_spark.measure import (
        codegen_compiles, force_count, jobs_launched, round_trips)
    from big_data_projects_spark.session import ensure_runtime_conf, get_spark
    from big_data_projects_spark.queries import REGISTRY

    spark = get_spark(app_name="bdp-profile")
    print(
        f"spark.sql.shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
        f"defaultParallelism={spark.sparkContext.defaultParallelism}",
        flush=True,
    )

    # Warm page cache + codegen: every column read once per table.
    from pyspark.sql import functions as F
    from big_data_projects_spark.data import TABLES, load_table

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.agg(*[F.count(F.col(c)) for c in df.columns]).collect()

    def plan_text(name: str) -> str:
        q = REGISTRY[name]
        spark.catalog.clearCache()
        df = q.raw(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        ensure_runtime_conf(spark)
        return buf.getvalue()

    if plans_all is not None:
        os.makedirs(plans_all, exist_ok=True)
        todo = names or list(REGISTRY)
        for name in todo:
            try:
                txt = plan_text(name)
            except Exception as exc:  # side-effecting builders etc.
                txt = f"<plan unavailable: {exc}>\n"
            with open(os.path.join(plans_all, f"{name}.txt"), "w") as f:
                f.write(txt)
            print(f"plan {name}: {len(txt)} chars", flush=True)
        return

    if runs < 1:
        # --runs 0 used to NameError on the unbound
        # sample count below; fail loudly with the reason instead.
        raise SystemExit(f"--runs must be >= 1 (got {runs})")

    def counted(fn):
        """fn's result, its Spark jobs and its generated-class compiles."""
        (result, compiles), jobs = jobs_launched(
            spark, lambda: codegen_compiles(spark, fn))
        return result, jobs, compiles

    out: dict[str, dict] = {}
    for name in names:
        q = REGISTRY[name]
        samples = []
        n = None
        for _ in range(runs):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()

            def build():
                t0 = time.perf_counter()
                df, calls = round_trips(lambda: q.raw(spark, sf_dir))
                return df, time.perf_counter() - t0, calls

            def force():
                t0 = time.perf_counter()
                return force_count(df), time.perf_counter() - t0

            (df, build_s, calls), build_jobs, build_compiles = counted(build)
            (n, force_s), force_jobs, force_compiles = counted(force)
            samples.append({
                "build_s": round(build_s, 3),
                "force_s": round(force_s, 3),
                "round_trips": calls,
                "build_jobs": build_jobs,
                "force_jobs": force_jobs,
                "build_compiles": build_compiles,
                "force_compiles": force_compiles,
            })
            ensure_runtime_conf(spark)
        totals = [round(s["build_s"] + s["force_s"], 3) for s in samples]
        out[name] = {"min": min(totals), "rows": n, "samples": samples}
        print(f"{name}: min={min(totals)} rows={n} samples={samples}", flush=True)
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            # Same failure tolerance as --plans-all: a
            # side-effecting builder must not abort the timing loop.
            try:
                txt = plan_text(name)
            except Exception as exc:
                txt = f"<plan unavailable: {exc}>\n"
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                f.write(txt)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
