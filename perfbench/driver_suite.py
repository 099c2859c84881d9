"""Workload ``driver_suite``: driver leaves from ``bench.py``'s HEADLINE,
one per operator module plus the curation plan, through
``__spark_entry__.queries()`` with a noop sink, on driver tables generated
from the seed.

Set-up runs every leaf once with its result collected and compared with
its ``oracle_sql()`` DuckDB twin; that pass is also the warm-up.  The timed
passes then run each leaf into the noop sink, split into build (DataFrame
construction, including the eager jobs it launches) and run (the sink).
"""

from __future__ import annotations

import os
import time

import duckdb

import check
import gen
from env import Meter

SF = 0.005
# leaf -> the module that does its main work
LEAVES = {
    "minhash_pairs": "operators.dedup",
    "brute_topk": "operators.similarity",
    "text_profile": "operators.text",
    "hll_distinct": "operators.sketch",
    "pip_municipality": "operators.spatial",
    "gapfill_hourly": "operators.temporal",
    "density_grid": "operators.tiling",
    "skew_stats": "operators.maintenance",
    "curation": "plans.curation",
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class DriverSuite:
    name = "driver_suite"

    def __init__(self, spark, tracer, seed: int, work: str):
        import __spark_entry__ as entry
        from laji_pygeoapi_spark.plans.curation import release_caches
        self.spark, self.tracer = spark, tracer
        self.sf_dir = gen.driver_tables(seed, SF, os.path.join(work, "sf"))
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.release = release_caches
        self.units = 0
        self.log: list[dict] = []

    def warm_up(self) -> None:
        """Each leaf once against its DuckDB oracle (answers checked here,
        once per process)."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, t)}.parquet'")
        for name in LEAVES:
            ok = False
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                got = df.toPandas()
                self.release(df)
                ok = check.same_result(got, con.sql(self.oracles[name]).df())
            except Exception:  # noqa: BLE001 - a failing leaf is counted
                ok = False
            self.log.append({"kind": "oracle", "leaf": name, "ok": ok, "s": 0.0,
                             "unit": -1})
        con.close()

    def run_unit(self) -> float:
        tr, sc = self.tracer, self.spark.sparkContext
        busy = 0.0
        for name in LEAVES:
            tr.req = f"u{self.units}:{name}"
            ok, err = True, None
            with Meter() as m:
                t0 = time.perf_counter()
                try:
                    with tr.span("bench.leaf"):
                        with tr.span("driver_suite.build"):
                            df = self.queries[name](self.spark, self.sf_dir)
                        t1 = time.perf_counter()
                        with tr.span("driver_suite.run"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                        self.release(df)
                except Exception as exc:  # noqa: BLE001
                    ok, err, t1 = False, repr(exc)[:300], time.perf_counter()
                    t2 = t1
            busy += m.s
            left = len(sc._jsc.getPersistentRDDs())
            self.log.append({"kind": "leaf", "leaf": name, "module": LEAVES[name],
                             "unit": self.units, **m.fields(), "build_s": t1 - t0,
                             "run_s": t2 - t1, "ok": ok, "err": err,
                             "persisted_left": left})
            for rdd in list(sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist()  # a leak must not slow the next leaf
        tr.req = "between"
        self.units += 1
        return busy

    def reads(self) -> list[dict]:
        return [e for e in self.log if e["kind"] == "leaf"]
