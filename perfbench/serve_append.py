"""Workload ``serve_append``: OGC API Features reads against a store built
by a bulk ingest during set-up, with a staged append between read blocks,
one compaction and a last read block on the compacted store.

Set-up loads the base batch into an empty store (``ingest_fused`` ->
``write_partitioned(bloom_col="image_id")``) and checks it against its
manifest.  One unit of work then runs on a fresh copy of that store:

    reads -> append -> reads -> compact_store -> reads

Every read is ``read_table`` + ``items``/``get_feature`` + the full
``feature_collection`` string, checked against DuckDB over the benchmark's
own parquet.  Only the calls into the program are timed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import gen
from check import StoreReference
from env import Meter

N_BASE = 20_000
N_APPEND = 5_000
N_APPENDS = 1
# the reads of one unit, by type: 17 pages (71 %) and 7 lookups (29 %),
# shuffled, then cut into N_BLOCKS equal blocks
UNIT_MIX = {"bbox_page": 3, "filtered_page": 3, "keyset_page": 3,
            "sortby_keyset_page": 2, "tm35fin_page": 2, "intersects_page": 2,
            "large_page": 2, "hits_all": 2, "hits_bbox": 2, "get_feature": 3}
N_BLOCKS = N_APPENDS + 2
PAGE_TYPES = gen.PAGE_TYPES


class Inputs:
    """Everything the unit needs, generated from the seed during setup."""

    def __init__(self, seed: int, work: str):
        self.dir = os.path.join(work, "inputs")
        base = gen.points_table(seed, N_BASE)
        self.base = gen.write_parquet(base, os.path.join(self.dir, "base.parquet"))
        self.appends = []
        appended: list[str] = []
        for j in range(N_APPENDS):
            t = gen.points_table(seed, N_APPEND, id_base=N_BASE + j * N_APPEND,
                                 stream="append")
            self.appends.append(gen.write_parquet(
                t, os.path.join(self.dir, f"append{j}.parquet")))
            appended += t.column("image_id").to_pylist()
        self.base_ids = sorted(base.column("image_id").to_pylist())
        # one read of each type during warm-up; its pages are the first
        # popular views the unit's repeats can ask for again
        self.warm = gen.requests(seed, self.base_ids, dict.fromkeys(UNIT_MIX, 1),
                                 stream="warm")
        self.reads = gen.requests(seed, self.base_ids, UNIT_MIX, pool=self.warm)
        self.per_block = len(self.reads) // N_BLOCKS
        # after the first append, half of the GETs for present ids ask for
        # an appended one
        r = gen.rng_for(seed, "recent")
        for q in self.reads[self.per_block:]:
            if q["type"] == "get_feature" and q["id"].startswith("P") \
                    and r.random() < gen.RECENT_SHARE:
                q["id"] = appended[int(r.integers(0, len(appended)))]


class Program:
    """The program's public entry points, resolved at call time so that
    tracing wrappers installed on the modules are honoured."""

    def __init__(self, spark):
        from laji_pygeoapi_spark.api import features
        from laji_pygeoapi_spark.plans import ingest
        from laji_pygeoapi_spark.sources import table
        self.spark, self.A, self.P, self.T = spark, features, ingest, table

    def load(self, parquet: str, root: str, job_id: str, staged: bool = False) -> dict:
        df = self.P.ingest_fused(self.spark.read.parquet(parquet))
        return self.T.write_partitioned(df, root, job_id, bloom_col="image_id",
                                        staged=staged)

    def request(self, root: str, q: dict) -> str:
        A = self.A
        df = self.T.read_table(self.spark, root)
        t = q["type"]
        crs = "EPSG:3067" if t == "large_page" else "CRS84"
        if t == "get_feature":
            return A.feature_collection(A.get_feature(df, q["id"], store_root=root))
        if t in ("hits_all", "hits_bbox"):
            _, n = A.items(df, bbox=q.get("bbox"), resulttype="hits", store_root=root)
            return A.feature_collection(df.limit(0), number_matched=n)
        kw: dict = {"limit": q["limit"], "store_root": root}
        if t == "intersects_page":
            kw["intersects"] = gen.polygon_wkb(q["ring"])
        else:
            kw["bbox"] = q.get("bbox")
        if t == "filtered_page":
            kw["datetime_range"] = q["datetime"]
            kw["properties"] = [("species", q["species"])]
        elif t == "keyset_page":
            kw["after_id"] = q["after_id"]
        elif t == "sortby_keyset_page":
            kw.update(sortby=[("Keruu_aloitus_pvm", "-")],
                      after_values=gen.after_values(q), after_id=q["after_id"])
        page, n = A.items(df, **kw)
        return A.feature_collection(page, number_matched=n, crs=crs)


def dir_stats(path: str, suffix: str) -> tuple[int, int]:
    files, size = 0, 0
    for dirpath, _d, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def manifest_bytes(root: str) -> int:
    """Bytes of the live manifests as written (indent=1 JSON), less the
    wall-clock fields (``written_at``, ``metrics``), so the figure repeats
    exactly for a seed."""
    mdir = os.path.join(root, "_manifests")
    total = 0
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                doc = json.load(f)
            doc.pop("written_at", None)
            doc.pop("metrics", None)
            total += len(json.dumps(doc, indent=1))
    return total


class ServeAppend:
    name = "serve_append"

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.prog = Program(spark)
        self.inputs = Inputs(seed, work)
        self.ref = StoreReference()
        self.units = 0
        self.log: list[dict] = []       # one entry per timed operation
        self.store_facts: dict = {}

    # ------------------------------------------------------------- setup

    def warm_up(self) -> None:
        """Build the base store (the bulk ingest, checked against its
        manifest), then one read of each type on it, so cold Python
        workers, JIT and first plan shapes stay out of the timed window."""
        inp = self.inputs
        self.base_root = os.path.join(self.work, "base_store")
        self.ref.add(inp.base)
        t0 = time.perf_counter()
        doc = self.prog.load(inp.base, self.base_root, "base")
        ingest_s = time.perf_counter() - t0
        ok = self._check_ingest(self.base_root, doc)
        self.log.append({"kind": "ingest", "req": "setup", "unit": -1, "s": ingest_s,
                         "ok": ok, "err": None if ok else "manifest check failed",
                         "bytes": 0, "returned": 0})
        self.store_facts["ingest_bytes_per_row"] = dir_stats(
            os.path.join(self.base_root, "data"), ".parquet")[1] / N_BASE
        for q in inp.warm:
            self.prog.request(self.base_root, q)

    # -------------------------------------------------------------- unit

    def _op(self, kind: str, req: str, fn, check) -> float:
        """Time one call into the program; check its answer afterwards."""
        self.tracer.req = req
        ok, out, err = True, None, None
        with Meter() as m:
            try:
                with self.tracer.span(f"bench.{kind}"):
                    out = fn()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                ok, err = False, repr(exc)[:300]
        if ok:
            try:
                ok = bool(check(out))
            except Exception as exc:  # noqa: BLE001
                ok, err = False, repr(exc)[:300]
        text = out if isinstance(out, str) else ""
        returned = re.search(r'"numberReturned":(\d+)', text[:200])
        self.log.append({"kind": kind, "req": req, "unit": self.units, **m.fields(),
                         "ok": ok, "err": err, "bytes": len(text),
                         "returned": int(returned.group(1)) if returned else 0})
        self.tracer.req = "between"
        return m.s

    def run_unit(self) -> float:
        u = self.units
        root = os.path.join(self.work, f"store{u}")
        shutil.copytree(self.base_root, root)
        inp, ref, prog = self.inputs, self.ref, self.prog
        ref.reset()
        ref.add(inp.base)
        busy = 0.0
        per = inp.per_block
        for b in range(N_BLOCKS):
            for i, q in enumerate(inp.reads[b * per:(b + 1) * per]):
                busy += self._op(q["type"], f"u{u}:r{b * per + i}",
                                 lambda q=q: prog.request(root, q),
                                 lambda s, q=q: ref.verify(q, s))
            if b < N_APPENDS:
                path = inp.appends[b]
                busy += self._op("append", f"u{u}:append{b}",
                                 lambda: prog.load(path, root, f"append{b}", staged=True),
                                 lambda doc: doc["total_rows"] == N_APPEND)
                ref.add(path)
            elif b == N_APPENDS:
                self.store_facts["data_files"] = dir_stats(
                    os.path.join(root, "data"), ".parquet")[0]
                self.store_facts["manifest_bytes"] = manifest_bytes(root)
                rows = ref.rows()
                busy += self._op("compact", f"u{u}:compact",
                                 lambda: prog.T.compact_store(self.spark, root, "compact"),
                                 lambda doc: doc["total_rows"] == rows)
                self.store_facts["compact_rewrite_bytes"] = dir_stats(
                    os.path.join(root, "data"), ".parquet")[1]
        shutil.rmtree(root, ignore_errors=True)
        self.units += 1
        return busy

    def _check_ingest(self, root: str, doc: dict) -> bool:
        """Row count from the manifest and the stored checksums, outside
        the timed call."""
        if doc["total_rows"] != N_BASE:
            return False
        return self.prog.T.verify_against_manifest(self.spark, root, "base")["ok"]

    # ----------------------------------------------------------- results

    def reads(self) -> list[dict]:
        return [e for e in self.log if e["kind"] in UNIT_MIX]
