"""Store, lineage, checkpoint-resume, watermark and streaming-ingest tests
(north rule M5 + SURVEY §2.10)."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from laji_pygeoapi_spark.plans import ingest as ING
from laji_pygeoapi_spark.sources import fixtures
from laji_pygeoapi_spark.sources import table as store


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "store")


def test_write_read_manifest_roundtrip(spark, root):
    imgs = fixtures.images_df(spark, 500, with_bytes=False)
    prepared = ING.ingest_fused(imgs)
    doc = store.write_partitioned(prepared, root, "j1")
    assert doc["total_rows"] == 500
    assert all(p["row_count"] > 0 for p in doc["partitions"])
    back = store.read_table(spark, root)
    assert back.count() == 500
    ver = store.verify_against_manifest(spark, root, "j1")
    assert ver["ok"], ver["mismatches"][:2]


def test_manifest_detects_corruption(spark, root):
    imgs = fixtures.images_df(spark, 200, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")
    # drop one partition directory -> verification must fail
    data = os.path.join(root, "data")
    victim = next(os.path.join(data, d) for d in os.listdir(data) if d.startswith("geom_kind"))
    sub = next(os.path.join(victim, d) for d in os.listdir(victim))
    shutil.rmtree(sub)
    ver = store.verify_against_manifest(spark, root, "j1")
    assert not ver["ok"]


def test_checkpoint_resume_skips_done_steps(spark, root):
    imgs = fixtures.images_df(spark, 300, with_bytes=False)
    doc = ING.ingest(imgs, root, "job-a")
    assert doc["total_rows"] == 300
    again = ING.ingest(imgs, root, "job-a")
    assert again.get("skipped") is True
    assert store.read_table(spark, root).count() == 300  # no double append


def test_watermark_incremental(spark, root):
    from laji_pygeoapi_spark.streaming.incremental import batch_incremental
    imgs = ING.ingest_fused(fixtures.images_df(spark, 300, with_bytes=False))
    src = imgs.withColumn("load_date",
                          F.when(F.col("image_id") < "IMG_000000150", "2024-01-01")
                           .otherwise("2024-06-01"))
    doc1 = batch_incremental(spark, src.filter(F.col("load_date") == "2024-01-01"),
                             root, "inc1")
    assert doc1["total_rows"] == 150
    assert store.load_watermark(root) == "2024-01-01"
    # second batch: only rows at/after the watermark flow in
    doc2 = batch_incremental(spark, src, root, "inc2")
    assert doc2["total_rows"] == 300  # >= watermark (inclusive re-read + dedup later)
    assert store.load_watermark(root) == "2024-06-01"


def test_stream_ingest_matches_batch(spark, tmp_path):
    from laji_pygeoapi_spark.streaming.incremental import stream_ingest
    src_dir = str(tmp_path / "incoming")
    root = str(tmp_path / "stream_store")
    imgs = fixtures.images_df(spark, 200, with_bytes=False)
    imgs.write.mode("overwrite").parquet(src_dir)
    stream_ingest(spark, src_dir, root)
    got = store.read_table(spark, root)
    assert got.count() == 200
    # stream rows are bit-identical to batch ingest of the same input
    batch = ING.ingest_fused(spark.read.parquet(src_dir))
    cols = ["image_id", "cell_r7", "Kunta", "tile_x_z9"]
    a = got.select(*cols).orderBy("image_id").toPandas()
    b = batch.select(*cols).orderBy("image_id").toPandas()
    assert a.equals(b)
    # idempotent: second availableNow run ingests nothing new
    stream_ingest(spark, src_dir, root)
    assert store.read_table(spark, root).count() == 200


def test_stream_incremental_retile_matches_batch(spark, tmp_path):
    """Round-2 verdict item #8: streaming ingest rebuilds ONLY the dirty
    (zoom, x, y) tiles per micro-batch, and after two appended batches the
    tile store is byte-identical to a full batch re-tile — including tiles
    whose mosaics merge rows from both batches."""
    import glob
    import json
    from laji_pygeoapi_spark.operators import tiling as TL
    from laji_pygeoapi_spark.streaming.retile import stream_ingest_retile
    src = str(tmp_path / "incoming")
    root = str(tmp_path / "retile_store")
    troot = str(tmp_path / "tiles")
    all_imgs = fixtures.images_df(spark, 120, with_bytes=True)
    a = all_imgs.filter(F.col("image_id") < "IMG_000000080")
    b = all_imgs.filter(F.col("image_id") >= "IMG_000000080")
    a.write.mode("overwrite").parquet(src)
    stream_ingest_retile(spark, src, root, troot, zoom=5)
    n_first = spark.read.parquet(troot + "/data").count()
    b.write.mode("append").parquet(src)
    stream_ingest_retile(spark, src, root, troot, zoom=5)
    got = spark.read.parquet(troot + "/data")
    want = TL.materialize_tiles(ING.ingest_fused(all_imgs), zoom=5)
    cols = ["zoom", "x", "y", "n_images"]
    gp = (got.select(*[F.col(c).cast("long") for c in cols],
                     F.xxhash64("tile_png").alias("h"))
             .orderBy("x", "y").toPandas())
    wp = (want.select(*[F.col(c).cast("long") for c in cols],
                      F.xxhash64("tile_png").alias("h"))
              .orderBy("x", "y").toPandas())
    assert gp.values.tolist() == wp.values.tolist()
    assert n_first > 0 and len(gp) >= n_first
    # lineage manifests: one per micro-batch, naming the dirty tiles
    docs = [json.load(open(p)) for p in
            sorted(glob.glob(troot + "/_manifests/retile-*.json"))]
    assert len(docs) == 2
    assert all(d["n_tiles"] == len(d["dirty_tiles"]) > 0 for d in docs)
    assert docs[1]["n_tiles"] <= len(gp)


def test_count_from_manifest_partition_aligned(spark, root):
    imgs = fixtures.images_df(spark, 500, with_bytes=False)
    prepared = ING.ingest_fused(imgs)
    doc = store.write_partitioned(prepared, root, "j1")
    # whole-table count, no scan
    assert store.count_from_manifest(root) == 500
    # per-geom_kind count matches a real filter count
    kind = doc["partitions"][0]["geom_kind"]
    real = store.read_table(spark, root).filter(F.col("geom_kind") == kind).count()
    assert store.count_from_manifest(root, geom_kind=kind) == real
    # set-valued filter and append accumulation
    cells = {p["cell_prefix"] for p in doc["partitions"] if p["geom_kind"] == kind}
    assert store.count_from_manifest(root, geom_kind=kind, cell_prefix=cells) == real
    store.write_partitioned(prepared, root, "j2")
    assert store.count_from_manifest(root) == 1000
    # non-partition column -> None (caller must fall back to a scan)
    assert store.count_from_manifest(root, image_id="x") is None


def test_partition_admin_list_drop_exists(spark, root):
    """Reference edit_db table management as partition metadata ops:
    get_all_tables -> list_partitions, check_table_exists ->
    partition_exists, drop_table/drop_all_tables -> drop_partitions —
    all manifest/filesystem-level, no scan, surviving data untouched."""
    import pytest
    imgs = fixtures.images_df(spark, 200, with_bytes=False)
    prepared = ING.ingest_fused(imgs)
    # two geometry kinds so the drop has routing to respect
    mixed = prepared.withColumn(
        "geom_kind", F.when(F.col("image_id") < "IMG_000000100",
                            F.lit("point")).otherwise(F.lit("polygon")))
    store.write_partitioned(mixed, root, "j1")
    parts = store.list_partitions(root)
    kinds = {p["geom_kind"] for p in parts}
    assert kinds == {"point", "polygon"}
    assert sum(p["row_count"] for p in parts) == 200
    assert store.partition_exists(root, geom_kind="polygon")
    with pytest.raises(ValueError):
        store.drop_partitions(root, image_id="x")
    n = store.drop_partitions(root, geom_kind="polygon")
    assert n > 0
    assert not store.partition_exists(root, geom_kind="polygon")
    # manifests, counts, and the readable table all agree post-drop
    assert store.count_from_manifest(root) == 100
    left = store.read_table(spark, root)
    assert left.count() == 100
    assert left.select("geom_kind").distinct().collect()[0][0] == "point"


def test_get_queryables_reference_semantics():
    """lajiapi_provider.get_fields parity: only query-named columns are
    exposed, under virva names, with the reference's type renames."""
    from laji_pygeoapi_spark.api import features as API
    q = API.get_queryables()
    assert q["Yksilomaara_tulkittu"]["type"] == "integer"   # int rename
    assert q["Tieteellinen_nimi"]["type"] == "string"       # str rename
    assert q["Sensitiivinen_laji"]["type"] == "boolean"     # bool rename
    assert q["geometry"]["type"] == "geom"                  # passthrough
    assert "Esiintyman_tila" not in q   # no query name -> not queryable
    assert "Vastuualue" not in q
    # every exposed field carries a type and a title
    assert all(set(v) == {"type", "title"} for v in q.values())


def test_items_hits_from_manifest_no_scan(spark, root, monkeypatch):
    """items(store_root=) answers an UNFILTERED hits request from the
    lineage manifests — proven scan-free by making DataFrame.count raise;
    a filtered request falls back to a real count."""
    from pyspark.sql import DataFrame
    from laji_pygeoapi_spark.api import features as API
    imgs = fixtures.images_df(spark, 150, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")
    t = store.read_table(spark, root)

    def boom(self):
        raise AssertionError("scan-count called on manifest-answerable query")
    monkeypatch.setattr(DataFrame, "count", boom)
    _, matched = API.items(t, resulttype="hits", store_root=root)
    assert matched == 150
    monkeypatch.undo()
    # a filter disqualifies the manifest path: real count runs and agrees
    _, m2 = API.items(t, resulttype="hits", store_root=root,
                      bbox=(24.5, 59.9, 28.5, 62.2))
    assert 0 < m2 < 150


def test_checkpoint_write_is_atomic(root):
    """A crash mid-write can't corrupt checkpoints: writes go to a tmp file
    then os.replace; a pre-existing good checkpoint survives a failed
    rewrite attempt (ADVICE round-1)."""
    store.mark_step(root, "job", "step1")
    path = store._ckpt_path(root, "job")
    before = open(path).read()
    # simulate a crashed partial write left behind as tmp junk
    with open(path + ".tmp.999", "w") as f:
        f.write('{"trunca')
    assert store.load_checkpoint(root, "job")["completed_steps"][0]["step"] == "step1"
    store.mark_step(root, "job", "step2")
    after = store.load_checkpoint(root, "job")
    assert [s["step"] for s in after["completed_steps"]] == ["step1", "step2"]
    assert before != open(path).read()


def test_compact_store_preserves_rows_and_shrinks_files(spark, root):
    import glob
    imgs = fixtures.images_df(spark, 600, with_bytes=False)
    prepared = ING.ingest_fused(imgs).repartition(16)  # force many small files
    for _ in range(3):                                  # 3 appends = 3x files
        prepared.write.mode("append").partitionBy("geom_kind", "cell_prefix") \
                .parquet(root + "/data")
    before_files = len(glob.glob(root + "/data/**/*.parquet", recursive=True))
    t = store.read_table(spark, root)
    n_before = t.count()
    chk_before = t.agg(F.bit_xor(F.xxhash64(*sorted(t.columns))).alias("c")).first()["c"]
    doc = store.compact_store(spark, root, "compact1")
    after_files = len(glob.glob(root + "/data/**/*.parquet", recursive=True))
    t2 = store.read_table(spark, root)
    assert t2.count() == n_before == doc["total_rows"]
    chk_after = t2.agg(F.bit_xor(F.xxhash64(*sorted(t2.columns))).alias("c")).first()["c"]
    assert chk_after == chk_before          # byte-identical row multiset
    assert after_files < before_files / 2   # file count collapsed
    assert doc["metrics"]["kind"] == "compaction"


def test_manifest_count_exact_after_compaction(spark, root):
    """ADVICE round-2 (medium): compaction must not double manifest counts —
    the snapshot manifest supersedes the delta manifests (archived on
    compact; count_from_manifest also treats snapshots as the base for
    stores compacted before the archive step)."""
    imgs = fixtures.images_df(spark, 300, with_bytes=False)
    prepared = ING.ingest_fused(imgs)
    store.write_partitioned(prepared.filter(F.col("image_id") < "IMG_000000150"), root, "d1")
    store.write_partitioned(prepared.filter(F.col("image_id") >= "IMG_000000150"), root, "d2")
    assert store.count_from_manifest(root) == 300
    store.compact_store(spark, root, "c1")
    assert store.count_from_manifest(root) == 300      # was 600 pre-fix
    # deltas appended after the snapshot accumulate on top of it
    store.write_partitioned(
        ING.ingest_fused(fixtures.images_df(spark, 50, with_bytes=False)), root, "d3")
    assert store.count_from_manifest(root) == 350
    # superseded deltas live under _manifests/archived/
    import os
    archived = os.listdir(os.path.join(root, "_manifests", "archived"))
    assert {"manifest-d1.json", "manifest-d2.json"} <= set(archived)


def test_compaction_crash_recovery(spark, root):
    """ADVICE round-2: a crash between the two os.replace calls of the swap
    leaves no data/ — read_table and compact_store auto-heal by rolling
    back to the stranded pre-compact snapshot."""
    import os
    import shutil
    imgs = fixtures.images_df(spark, 100, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")
    n = store.read_table(spark, root).count()
    # simulate the torn state: data/ renamed away, half-written data.compact
    os.replace(os.path.join(root, "data"), os.path.join(root, "data.pre-compact-x"))
    os.makedirs(os.path.join(root, "data.compact"))
    got = store.read_table(spark, root)
    assert got.count() == n
    assert os.path.isdir(os.path.join(root, "data"))
    assert not os.path.isdir(os.path.join(root, "data.compact"))
    # and compact_store on a torn store heals then compacts normally
    os.replace(os.path.join(root, "data"), os.path.join(root, "data.pre-compact-y"))
    doc = store.compact_store(spark, root, "c-heal")
    assert doc["total_rows"] == n
    shutil.rmtree(root)


# ------------------------------------------------- partial-cell bbox counts

FINLAND = (19.083, 59.454, 31.587, 70.092)


def test_bbox_count_interior_is_scan_free(spark, root, monkeypatch):
    """A bbox containing every partition's stats envelope needs ZERO IO:
    all covered cells classify as interior, so the residual-scan helper
    must never run."""
    imgs = fixtures.images_df(spark, 400, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")

    def boom(*a, **k):
        raise AssertionError("residual scan ran for an interior-only bbox")
    monkeypatch.setattr(store, "_bbox_residual_count", boom)
    assert store.bbox_count(spark, root, FINLAND) == 400


def test_bbox_count_partial_matches_scan_and_prunes(spark, root, monkeypatch):
    """Partial-cell bboxes: manifest-interior + boundary-residual equals the
    full-scan count, and the residual scan receives ONLY cells whose hexagon
    straddles the box (never an interior cell)."""
    from laji_pygeoapi_spark.kernels import cells as C
    imgs = fixtures.images_df(spark, 600, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")
    t = store.read_table(spark, root)
    seen: list[list] = []
    orig = store._bbox_residual_count

    def spy(sp, rt, cells, bbox):
        seen.append(list(cells))
        return orig(sp, rt, cells, bbox)
    monkeypatch.setattr(store, "_bbox_residual_count", spy)
    for bbox in [(21.0, 61.0, 29.0, 67.0),   # interior + boundary mix
                 (24.5, 59.9, 28.5, 62.2),   # the serving test box
                 (20.0, 60.0, 20.5, 60.4)]:  # sub-cell sliver
        minx, miny, maxx, maxy = bbox
        expect = t.filter((F.col("lon") >= minx) & (F.col("lon") <= maxx)
                          & (F.col("lat") >= miny) & (F.col("lat") <= maxy)).count()
        assert store.bbox_count(spark, root, bbox) == expect
    for cells, bbox in zip(seen, [(21.0, 61.0, 29.0, 67.0)]):
        for cell in cells:
            b = C.hex_boundary(cell)
            fully_inside = (b[:, 0] >= bbox[0]).all() and (b[:, 0] <= bbox[2]).all() \
                and (b[:, 1] >= bbox[1]).all() and (b[:, 1] <= bbox[3]).all()
            assert not fully_inside, "interior cell leaked into the residual scan"


def test_bbox_count_disjoint_stats_skip_scan(spark, root, monkeypatch):
    """A bbox inside the cell cover but disjoint from every partition's
    point envelope is answered 0 with no scan (stats prove emptiness)."""
    imgs = fixtures.images_df(spark, 100, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")
    t = store.read_table(spark, root)
    lo = t.agg(F.min("lon"), F.min("lat")).collect()[0]
    # a sliver strictly west/south of every stored point, same cell cover
    bbox = (lo[0] - 0.4, lo[1] - 0.4, lo[0] - 0.2, lo[1] - 0.2)

    def boom(*a, **k):
        raise AssertionError("scan ran for a stats-provably-empty bbox")
    monkeypatch.setattr(store, "_bbox_residual_count", boom)
    assert store.bbox_count(spark, root, bbox) == 0


def test_bbox_count_survives_compaction(spark, root):
    """Manifest algebra: after compaction (snapshot manifest supersedes the
    archived deltas) partial-bbox counts still equal the scan."""
    store.write_partitioned(
        ING.ingest_fused(fixtures.images_df(spark, 200, with_bytes=False)), root, "d1")
    store.write_partitioned(
        ING.ingest_fused(fixtures.images_df(spark, 100, with_bytes=False)), root, "d2")
    store.compact_store(spark, root, "c1")
    t = store.read_table(spark, root)
    bbox = (21.0, 61.0, 29.0, 67.0)
    expect = t.filter((F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
                      & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])).count()
    assert store.bbox_count(spark, root, bbox) == expect


def test_items_bbox_hits_via_manifest(spark, root, monkeypatch):
    """items(store_root=, bbox=) routes numberMatched through bbox_count:
    a whole-extent bbox is fully scan-free (DataFrame.count poisoned), a
    partial bbox agrees with the predicate count."""
    from pyspark.sql import DataFrame
    from laji_pygeoapi_spark.api import features as API
    imgs = fixtures.images_df(spark, 150, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")
    t = store.read_table(spark, root)
    expect_partial = t.filter(
        (F.col("lon") >= 24.5) & (F.col("lon") <= 28.5)
        & (F.col("lat") >= 59.9) & (F.col("lat") <= 62.2)).count()

    def boom(self):
        raise AssertionError("scan-count called for an interior-only bbox")
    monkeypatch.setattr(DataFrame, "count", boom)
    _, matched = API.items(t, resulttype="hits", store_root=root, bbox=FINLAND)
    assert matched == 150
    monkeypatch.undo()
    _, m2 = API.items(t, resulttype="hits", store_root=root,
                      bbox=(24.5, 59.9, 28.5, 62.2))
    assert m2 == expect_partial and 0 < m2 < 150


# ------------------------------------------------------- manifest bloom index

def test_bloom_lookup_finds_and_prunes(spark, root):
    """Bloom-indexed store: every present id is found via a pruned read of
    (usually) one partition; candidate sets stay tiny for absent ids."""
    imgs = fixtures.images_df(spark, 400, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1",
                            bloom_col="image_id")
    n_parts = len(store.list_partitions(root))
    assert n_parts > 3
    ids = [r["image_id"] for r in
           store.read_table(spark, root).select("image_id").limit(50).collect()]
    for v in ids[:8]:
        got = store.get_by_id(spark, root, v).collect()
        assert len(got) == 1 and got[0]["image_id"] == v
        assert len(store.lookup_partitions(root, v)) <= max(2, n_parts // 4)
    # absent keys: bloom FPR bounds the candidate fraction; result is empty
    total_cands = 0
    for i in range(100):
        v = f"ABSENT_{i:06d}"
        cands = store.lookup_partitions(root, v)
        total_cands += len(cands)
        if cands:
            assert store.get_by_id(spark, root, v).count() == 0
    assert total_cands < 100 * n_parts * 0.2, "bloom FPR too high"


def test_bloom_survives_deltas_and_compaction(spark, root):
    """Blooms from multiple deltas union correctly, and compaction carries
    the index into the snapshot manifest (archived deltas stay consulted
    only until then)."""
    a = fixtures.images_df(spark, 150, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(a), root, "d1", bloom_col="image_id")
    b = (fixtures.images_df(spark, 300, with_bytes=False)
         .filter(F.col("image_id") >= "IMG_000000150"))
    store.write_partitioned(ING.ingest_fused(b), root, "d2", bloom_col="image_id")
    for v in ("IMG_000000010", "IMG_000000200"):
        got = store.get_by_id(spark, root, v).collect()
        assert len(got) == 1, v
    store.compact_store(spark, root, "c1")
    for v in ("IMG_000000010", "IMG_000000200"):
        got = store.get_by_id(spark, root, v).collect()
        assert len(got) == 1, v
    assert store.lookup_partitions(root, "IMG_000000010") is not None


def _reference_bloom(spark, root, col, bits):
    """Per partition: bloom_words(v) ORed over the ids read back from
    parquet, as the signed int64 words a manifest stores."""
    words: dict[tuple, list[int]] = {}
    for r in store.read_table(spark, root).select(*store.PARTITION_COLS, col).collect():
        ws = words.setdefault((r["geom_kind"], r["cell_prefix"]), [0] * (bits // 64))
        for w, m in store.bloom_words(r[col], bits):
            ws[w] |= m
    return {k: [w - (1 << 64) if w >= 1 << 63 else w for w in ws]
            for k, ws in words.items()}


def _manifest_bloom(doc):
    return {(p["geom_kind"], p["cell_prefix"]): p["bloom_words"]
            for p in doc["partitions"]}


@pytest.mark.parametrize("key", ["image_id", "nid"])
def test_bloom_words_match_python_reference(spark, root, key):
    """The manifest's Bloom words equal a plain-Python build from the
    stored ids, exactly — string ids, and integer ids of both signs — with
    bit 63 (a negative int64 word) exercised; the compaction snapshot
    carries the OR of the deltas' words."""
    bits = 1024
    imgs = ING.ingest_fused(fixtures.images_df(spark, 1200, with_bytes=False))
    imgs = imgs.withColumn("nid", F.xxhash64("image_id"))
    d1 = store.write_partitioned(imgs.filter(F.col("image_id") < "IMG_000000700"),
                                 root, "d1", bloom_col=key, bloom_bits=bits)
    assert _manifest_bloom(d1) == _reference_bloom(spark, root, key, bits)
    assert any(w < 0 for ws in _manifest_bloom(d1).values() for w in ws)
    d2 = store.write_partitioned(imgs.filter(F.col("image_id") >= "IMG_000000700"),
                                 root, "d2", bloom_col=key, bloom_bits=bits)
    snap = store.compact_store(spark, root, "c1")
    ref = _reference_bloom(spark, root, key, bits)
    assert _manifest_bloom(snap) == ref
    merged = _manifest_bloom(d1)
    for part, ws in _manifest_bloom(d2).items():
        merged[part] = [a | b for a, b in zip(merged.get(part, [0] * len(ws)), ws)]
    assert merged == ref


def test_bloom_manifest_collect_bounded(spark, monkeypatch):
    """build_manifest's driver collect stays within its stated bound: at
    most n_partitions rows, each with at most k·min(rows, bloom_bits) bit
    positions.  Small ``bloom_bits`` makes the ``bloom_bits`` arm bind."""
    bits = 64
    df = ING.ingest_fused(fixtures.images_df(spark, 2000, with_bytes=False))
    n_parts = df.select(*store.PARTITION_COLS).distinct().count()
    collected = []
    cls = type(df)
    real = cls.collect

    def spy(self):
        rows = real(self)
        collected.append(rows)
        return rows
    monkeypatch.setattr(cls, "collect", spy)
    out = store.build_manifest(df, list(store.PARTITION_COLS),
                               bloom_col="image_id", bloom_bits=bits)
    monkeypatch.undo()
    (rows,) = collected
    assert len(rows) == len(out) == n_parts
    assert max(r["row_count"] for r in rows) > bits
    for r in rows:
        n_pos = sum(len(r[f"_bp{i}"]) for i in range(store._BLOOM_K))
        assert n_pos <= store._BLOOM_K * min(r["row_count"], bits), r["row_count"]


def test_get_feature_store_pruned(spark, root, monkeypatch):
    """api.get_feature(store_root=) reads only bloom-candidate partitions —
    proven by poisoning read_table (the full-scan path must not run)."""
    from laji_pygeoapi_spark.api import features as API
    imgs = fixtures.images_df(spark, 200, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1",
                            bloom_col="image_id")
    t = store.read_table(spark, root)

    def boom(*a, **k):
        raise AssertionError("full-table read for a bloom-indexed GET")
    monkeypatch.setattr(store, "read_table", boom)
    got = API.get_feature(t, "IMG_000000042", store_root=root).collect()
    assert len(got) == 1 and got[0]["image_id"] == "IMG_000000042"


def test_bloom_mismatch_and_decoded_probe(spark, root):
    """get_by_id on a column OTHER than the bloom-indexed one falls back to
    a full filter (no wrong-basis pruning); api.get_feature probes with the
    decoded '#' form when the store blooms Havainnon_tunniste."""
    from laji_pygeoapi_spark.api import features as API
    from laji_pygeoapi_spark.functions import transform
    raw = spark.createDataFrame(fixtures.raw_occurrences_pdf(120))
    tax = spark.createDataFrame(fixtures.taxonomy_pdf())
    occ = transform.transform_chain(raw, tax)
    store.write_partitioned(occ, root, "j1", bloom_col="Havainnon_tunniste")
    assert store.bloom_column(root) == "Havainnon_tunniste"
    row = occ.select("Paikallinen_tunniste", "Havainnon_tunniste").first()
    encoded = row["Paikallinen_tunniste"]
    # bloom col and lookup col differ -> exact result via fallback
    got = store.get_by_id(spark, root, encoded,
                          id_col="Paikallinen_tunniste").collect()
    assert len(got) == 1
    # API GET with the ENCODED id against a decoded-bloomed store
    t = store.read_table(spark, root)
    hits = API.get_feature(t, encoded, store_root=root).collect()
    assert len(hits) >= 1
    assert hits[0]["Havainnon_tunniste"] == row["Havainnon_tunniste"]


def test_connected_components_nonconvergence_raises(spark):
    """A chain deeper than max_iter must refuse rather than return wrong
    component labels."""
    import pytest
    from laji_pygeoapi_spark.operators.dedup import connected_components
    chain = spark.createDataFrame([(i, i + 1) for i in range(10)],
                                  "id_a: long, id_b: long")
    # pin the iterative path: the non-convergence guard is an iteration
    # property; the small-graph fast path has no round cap to hit
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3, small_graph_max_edges=0)
    ok = connected_components(chain, max_iter=15,
                              small_graph_max_edges=0).collect()
    assert {r["comp"] for r in ok} == {0}


def test_stream_ingest_carries_manifests_and_bloom(spark, root, tmp_path):
    """A store fed ONLY by the stream has working manifest counts, partial
    bbox counts, and a bloom GET — per-micro-batch write_partitioned gives
    streamed stores the same metadata layer as batch ones."""
    from laji_pygeoapi_spark.streaming.incremental import stream_ingest
    src = str(tmp_path / "src")
    fixtures.images_df(spark, 150, with_bytes=False).coalesce(1) \
        .write.mode("append").parquet(src)
    fixtures.images_df(spark, 300, with_bytes=False) \
        .filter(F.col("image_id") >= "IMG_000000150").coalesce(1) \
        .write.mode("append").parquet(src)
    stream_ingest(spark, src, root, bloom_col="image_id")
    assert store.count_from_manifest(root) == 300
    t = store.read_table(spark, root)
    bbox = (21.0, 61.0, 29.0, 67.0)
    expect = t.filter((F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
                      & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])).count()
    assert store.bbox_count(spark, root, bbox) == expect
    got = store.get_by_id(spark, root, "IMG_000000222").collect()
    assert len(got) == 1
    # idempotency still holds (file-source checkpoint)
    stream_ingest(spark, src, root, bloom_col="image_id")
    assert store.count_from_manifest(root) == 300


def test_bbox_count_randomized_equivalence(spark, root):
    """15 random bboxes (including slivers, cell-interior boxes and boxes
    larger than the data extent): manifest-path count == scan count."""
    import numpy as np
    imgs = fixtures.images_df(spark, 500, with_bytes=False)
    store.write_partitioned(ING.ingest_fused(imgs), root, "j1")
    t = store.read_table(spark, root).select("lon", "lat").cache()
    rng = np.random.RandomState(31)
    for i in range(15):
        cx = rng.uniform(19.0, 31.6)
        cy = rng.uniform(59.4, 70.1)
        w = rng.choice([0.05, 0.5, 2.0, 8.0, 30.0])
        h = rng.choice([0.05, 0.5, 2.0, 8.0, 30.0])
        bbox = (cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)
        expect = t.filter((F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
                          & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])).count()
        got = store.bbox_count(spark, root, bbox)
        assert got == expect, (i, bbox, got, expect)
    t.unpersist()


def test_staged_append_exactly_once(spark, root):
    """Round-3 ADVICE: foreachBatch replay must not duplicate store rows.
    staged=True implements an Iceberg-style commit: the per-batch manifest
    is the commit marker; a committed replay is a no-op and a half-published
    replay (data files in, manifest missing) is healed before re-append."""
    imgs = ING.ingest_fused(fixtures.images_df(spark, 200, with_bytes=False))
    doc = store.write_partitioned(imgs, root, "b0", staged=True)
    assert doc["total_rows"] == 200
    assert store.read_table(spark, root).count() == 200
    # committed replay: no-op, returns the recorded manifest
    again = store.write_partitioned(imgs, root, "b0", staged=True)
    assert again["total_rows"] == 200
    assert store.read_table(spark, root).count() == 200
    assert store.count_from_manifest(root) == 200
    # crash-before-commit replay: data files landed, but neither the
    # manifest nor the durable commit marker was written
    os.remove(os.path.join(root, "_manifests", "manifest-b0.json"))
    os.remove(os.path.join(root, "_commits", "b0.json"))
    healed = store.write_partitioned(imgs, root, "b0", staged=True)
    assert healed["total_rows"] == 200
    assert store.read_table(spark, root).count() == 200  # not 400
    assert store.count_from_manifest(root) == 200
    ver = store.verify_against_manifest(spark, root, "b0")
    assert ver["ok"], ver["mismatches"][:2]
    # a second DISTINCT batch still appends
    more = ING.ingest_fused(
        fixtures.images_df(spark, 300, with_bytes=False)
    ).filter(F.col("image_id") >= "IMG_000000200")
    store.write_partitioned(more, root, "b1", staged=True)
    assert store.read_table(spark, root).count() == 300
    assert store.count_from_manifest(root) == 300


def test_bloom_col_dtype_validated(spark, root):
    """Round-3 ADVICE: a bloom on a non-string/integral column would make
    the driver probe diverge from the distributed build (false MISS on a
    present key = silently-empty GET).  The write must refuse it."""
    imgs = ING.ingest_fused(fixtures.images_df(spark, 50, with_bytes=False))
    with pytest.raises(ValueError, match="bloom_col"):
        store.write_partitioned(imgs, root, "bad", bloom_col="lon")
    # string and integral columns remain accepted
    store.write_partitioned(imgs, root, "ok1", bloom_col="image_id")
    ok = imgs.withColumn("nid", F.xxhash64("image_id"))
    store.write_partitioned(ok, str(root) + "2", "ok2", bloom_col="nid")


def test_recover_compaction_cleans_stranded_snapshots(spark, root):
    """Round-3 ADVICE: once data/ exists, any data.pre-compact-* snapshot
    is stranded garbage that a later crash could roll back to (silently
    dropping appends) — read/compact paths must remove it."""
    imgs = ING.ingest_fused(fixtures.images_df(spark, 100, with_bytes=False))
    store.write_partitioned(imgs, root, "j1")
    stale = os.path.join(root, "data.pre-compact-zzz")
    os.makedirs(stale)
    assert store.read_table(spark, root).count() == 100
    assert not os.path.isdir(stale)


def test_hll_store_swap_never_absent(spark, tmp_path):
    """Round-3 ADVICE: the register-store swap keeps either old or new
    state on disk at every instant; the heal path restores a store stranded
    at '<root>.old' by a crash between the two renames."""
    from laji_pygeoapi_spark.operators import sketch as SK
    sroot = str(tmp_path / "hll")
    df = fixtures.images_df(spark, 300, with_bytes=False)
    a = df.filter(F.col("image_id") < "IMG_000000150")
    b = df.filter(F.col("image_id") >= "IMG_000000150")
    SK.update_hll_store(spark, a, sroot, "image_id")
    # simulate the crash window: store renamed aside, new never installed
    os.replace(sroot, sroot + ".old")
    SK.update_hll_store(spark, b, sroot, "image_id")
    est = SK.read_hll_store(spark, sroot)[()]
    assert abs(est - 300) / 300 < 0.15  # folded BOTH batches, not just b


def test_staged_append_replay_after_compaction(spark, root):
    """Round-4 review finding #1: compaction archives the per-batch
    manifest AND erases job-prefixed filenames, so the manifest alone
    cannot be the staged append's commit record — the durable _commits
    marker must make a post-compaction replay a no-op."""
    imgs = ING.ingest_fused(fixtures.images_df(spark, 150, with_bytes=False))
    store.write_partitioned(imgs, root, "s0", staged=True)
    assert store.read_table(spark, root).count() == 150
    store.compact_store(spark, root, "c1")
    assert store.count_from_manifest(root) == 150
    # replay the committed batch AFTER compaction
    doc = store.write_partitioned(imgs, root, "s0", staged=True)
    assert doc["total_rows"] == 150
    assert store.read_table(spark, root).count() == 150  # not 300
    assert store.count_from_manifest(root) == 150


def test_staged_append_crash_between_manifest_and_marker(spark, root):
    """Round-4 ADVICE (medium): the staged commit is two writes — manifest
    then _commits marker.  A crash BETWEEN them leaves a committed append
    with no marker; if compaction then archives the manifest, a replay that
    finds neither must consult _manifests/archived/ (and backfill the
    marker) instead of re-appending the batch permanently."""
    imgs = ING.ingest_fused(fixtures.images_df(spark, 120, with_bytes=False))
    store.write_partitioned(imgs, root, "m0", staged=True)
    marker = os.path.join(root, "_commits", "m0.json")

    # window A: replay happens BEFORE compaction — manifest-exists branch
    # must backfill the missing marker (self-heal), not just return
    os.remove(marker)
    doc = store.write_partitioned(imgs, root, "m0", staged=True)
    assert doc["total_rows"] == 120
    assert os.path.exists(marker), "manifest-exists replay must backfill marker"
    assert store.read_table(spark, root).count() == 120

    # window B: crash between the writes and NO replay before compaction —
    # the archived manifest is the only committed-proof left
    os.remove(marker)
    store.compact_store(spark, root, "c1")
    assert not os.path.exists(os.path.join(root, "_manifests",
                                           "manifest-m0.json"))
    doc = store.write_partitioned(imgs, root, "m0", staged=True)
    assert doc["total_rows"] == 120
    assert store.read_table(spark, root).count() == 120  # not 240
    assert store.count_from_manifest(root) == 120
    assert os.path.exists(marker), "archived-manifest replay must backfill marker"


def test_quantile_store_replay_after_compaction(spark, tmp_path):
    """Round-4 review finding #2: a batch folded into a compacted delta
    must be skipped on replay (the supersession list is the commit
    record), or its counters would be summed twice."""
    import pyspark.sql.functions as F
    from laji_pygeoapi_spark.operators import sketch as SK
    root = str(tmp_path / "q")
    df = spark.range(3000).select((F.col("id") * 31 % 9000).alias("v"))
    a = df.filter(F.col("v") % 2 == 0)
    b = df.filter(F.col("v") % 2 == 1)
    SK.update_quantile_store(spark, a, root, "v", batch_id=0)
    SK.update_quantile_store(spark, b, root, "v", batch_id=1)
    want = {r["q"]: r["est"] for r in SK.read_quantile_store(spark, root).collect()}
    SK.compact_quantile_store(spark, root)
    SK.update_quantile_store(spark, b, root, "v", batch_id=1)  # replay
    got = {r["q"]: r["est"] for r in SK.read_quantile_store(spark, root).collect()}
    assert got == want
    # empty store: clear error, not IndexError
    with pytest.raises(FileNotFoundError, match="no quantile deltas"):
        SK.read_quantile_store(spark, str(tmp_path / "missing"))


def test_quantile_store_skips_torn_delta(spark, tmp_path):
    """Round-4 ADVICE: a crashed update that is never replayed leaves a
    delta without _SUCCESS; the reader must skip it (its partial part-files
    would silently under-count) and compaction must sweep it."""
    import pyspark.sql.functions as F
    from laji_pygeoapi_spark.operators import sketch as SK
    root = str(tmp_path / "q")
    df = spark.range(2000).select((F.col("id") * 17 % 5000).alias("v"))
    SK.update_quantile_store(spark, df, root, "v", batch_id=0)
    want = {r["q"]: r["est"] for r in SK.read_quantile_store(spark, root).collect()}
    # simulate a torn write: part-files present, _SUCCESS never landed
    torn = os.path.join(root, "delta-99")
    os.makedirs(torn)
    import shutil
    src = os.path.join(root, "delta-0")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), os.path.join(torn, f))
    got = {r["q"]: r["est"] for r in SK.read_quantile_store(spark, root).collect()}
    assert got == want, "torn delta must not contribute to the merge"
    # grace window (round-5 fix) protects a delta a live writer may own;
    # this test simulates an ABANDONED torn delta, so disable the grace
    SK.compact_quantile_store(spark, root, torn_grace_s=0)
    assert not os.path.isdir(torn), "compaction must sweep the torn delta"
    got = {r["q"]: r["est"] for r in SK.read_quantile_store(spark, root).collect()}
    assert got == want


# ------------------------------------------------- store reads take the manifest schema

def _build_jobs(spark, build):
    """Spark jobs launched while ``build()`` constructs frames (no action)."""
    import uuid
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_schema_as_inferred(spark, root):
    assert store.read_table(spark, root).schema == \
        spark.read.parquet(os.path.join(root, "data")).schema


def test_store_reads_launch_no_job(spark, root):
    """Building a store read, a bloom GET and a bbox page launches no Spark
    job (the manifest supplies the schema; no footer inference), and the
    schema is the one inference would give, through append, compaction and
    partition drop."""
    from laji_pygeoapi_spark.api import features as API
    imgs = ING.ingest_fused(fixtures.images_df(spark, 600, with_bytes=False))
    store.write_partitioned(imgs.filter(F.col("image_id") < "IMG_000000400"),
                            root, "base", bloom_col="image_id")

    def build():
        t = store.read_table(spark, root)
        API.get_feature(t, "IMG_000000042", store_root=root)
        page, _ = API.items(t, bbox=(21.0, 60.0, 26.0, 64.0), limit=10,
                            store_root=root)
        API.to_geojson(page)

    def check():
        assert _build_jobs(spark, build) == 0
        _assert_schema_as_inferred(spark, root)

    check()
    store.write_partitioned(imgs.filter(F.col("image_id") >= "IMG_000000400"),
                            root, "append", bloom_col="image_id", staged=True)
    check()
    store.compact_store(spark, root, "compact")
    check()
    first = store.list_partitions(root)[0]
    assert store.drop_partitions(root, cell_prefix=first["cell_prefix"]) == 1
    check()
    assert store.read_table(spark, root).count() == store.count_from_manifest(root)


@pytest.mark.parametrize("shape", ["salted", "cell_prefix"])
def test_read_schema_matches_inference(spark, root, shape):
    imgs = ING.ingest_fused(fixtures.images_df(spark, 300, with_bytes=False))
    if shape == "salted":
        store.write_partitioned(ING.salt_dense_cells(imgs, max_rows_per_task=20),
                                root, "j1")
    else:
        store.write_partitioned(imgs, root, "j1", partition_cols=("cell_prefix",))
    _assert_schema_as_inferred(spark, root)
    assert store.verify_against_manifest(spark, root, "j1")["ok"]


def test_partition_types_round_trip(spark, tmp_path):
    """Partition columns read back with their written types: a small-valued
    bigint stays bigint (so the manifest checksums verify) and zero-padded
    strings stay strings (inference would read '001' as the integer 1)."""
    from pyspark.sql import types as T
    df = spark.range(300).select(
        F.col("id").alias("v"), (F.col("id") % 3).alias("k"),
        F.lpad((F.col("id") % 3).cast("string"), 3, "0").alias("s"))
    for col, dtype, values in (("k", T.LongType(), {0, 1, 2}),
                               ("s", T.StringType(), {"000", "001", "002"})):
        root = str(tmp_path / col)
        store.write_partitioned(df.drop("s" if col == "k" else "k"), root, "j1",
                                partition_cols=(col,))
        back = store.read_table(spark, root)
        assert back.schema[col].dataType == dtype
        assert {r[col] for r in back.select(col).distinct().collect()} == values
        assert store.verify_against_manifest(spark, root, "j1")["ok"]


def test_live_manifests_disagreeing_schemas_raise(spark, root):
    imgs = ING.ingest_fused(fixtures.images_df(spark, 100, with_bytes=False))
    store.write_partitioned(imgs, root, "j1")
    store.write_partitioned(imgs.withColumn("extra", F.lit(1)), root, "j2")
    with pytest.raises(ValueError, match=f"store {root!r}.*schema"):
        store.read_table(spark, root)


def test_schemaless_manifests_read_by_inference(spark, root):
    """A store written before manifests carried a schema reads by footer
    inference, as before."""
    import json
    imgs = ING.ingest_fused(fixtures.images_df(spark, 100, with_bytes=False))
    store.write_partitioned(imgs, root, "j1", bloom_col="image_id")
    path = os.path.join(root, "_manifests", "manifest-j1.json")
    with open(path) as f:
        doc = json.load(f)
    del doc["schema"]
    with open(path, "w") as f:
        json.dump(doc, f)
    assert _build_jobs(spark, lambda: store.read_table(spark, root)) >= 1
    _assert_schema_as_inferred(spark, root)
    assert store.read_table(spark, root).count() == 100
    assert store.get_by_id(spark, root, "IMG_000000042").count() == 1
    assert store.verify_against_manifest(spark, root, "j1")["ok"]


def test_session_skips_call_site_capture(spark, root, monkeypatch):
    """get_spark turns off PySpark's per-Column call-site capture: building
    columns and a GeoJSON frame never walks the Python stack."""
    from pyspark.errors import utils as err_utils
    from laji_pygeoapi_spark.api import features as API

    def boom(depth):
        raise AssertionError("call-site capture ran")
    store.write_partitioned(
        ING.ingest_fused(fixtures.images_df(spark, 50, with_bytes=False)), root, "j1")
    t = store.read_table(spark, root)
    monkeypatch.setattr(err_utils, "_enable_debugging_cache", None)
    monkeypatch.setattr(err_utils, "_capture_call_site", boom)
    F.col("a").cast("string").alias("b")
    API.to_geojson(t)
