"""FITS writer sink round-trips and image helpers."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

# reference-suite fixtures, rebuilt by tests/data/make_fixtures.py
REF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_fits_write_roundtrip(spark, tmp_path):
    src = spark.range(5000).select(
        F.col("id").alias("Index"),
        F.concat(F.lit("OBJ"), F.lpad(F.col("id").cast("string"), 7, "0")).alias("target"),
        (F.col("id") * 0.5).cast("float").alias("RA"),
        (F.col("id") % 2 == 0).alias("Flag"),
        F.array((F.col("id") % 100).cast("smallint"),
                ((F.col("id") + 1) % 100).cast("smallint")).alias("Vec"),
    )
    out = str(tmp_path / "outdir")
    src.repartition(4).write.format("fits").mode("overwrite").save(out)

    back = spark.read.format("fits").option("hdu", 1).load(out)
    assert back.count() == 5000
    types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert types == {"Index": "bigint", "target": "string", "RA": "float",
                     "Flag": "boolean", "Vec": "array<smallint>"}
    assert back.agg(F.sum("Index")).first()[0] == sum(range(5000))
    assert back.where(F.col("Flag")).count() == 2500
    row = back.where(F.col("Index") == 42).first()
    assert row["target"] == "OBJ0000042"
    assert row["Vec"] == [42, 43]
    # overwrite replaces, not appends
    src.limit(100).repartition(1).write.format("fits").mode("overwrite").save(out)
    assert spark.read.format("fits").option("hdu", 1).load(out).count() == 100


def test_fits_write_mixed_width_partitions(spark, tmp_path):
    """Partitions with different max string/array lengths write part
    files with different TFORM widths; the reader must still see ALL
    rows (r1 ADVICE: raw-TFORM conformance silently dropped files)."""
    src = spark.range(2000).select(
        F.col("id").alias("Index"),
        # partition by parity → one partition has ~3-char names, the
        # other ~13-char names → different nA widths per part file
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("LONGNAME__"), F.col("id")))
        .otherwise(F.col("id").cast("string")).alias("name"),
        # variable-length arrays → different repeat counts per part file
        F.when(F.col("id") % 2 == 0,
               F.array(F.col("id"), F.col("id") + 1, F.col("id") + 2))
        .otherwise(F.array(F.col("id"))).alias("vec"),
    ).repartition(2, F.col("Index") % 2 == 0)
    out = str(tmp_path / "mixed")
    src.write.format("fits").mode("overwrite").save(out)

    back = spark.read.format("fits").option("hdu", 1).load(out)
    assert back.count() == 2000  # no silently-skipped part files
    assert back.agg(F.sum("Index")).first()[0] == sum(range(2000))
    r = back.where(F.col("Index") == 4).first()
    assert r["name"] == "LONGNAME__4"
    assert r["vec"] == [4, 5, 6]
    # ragged arrays round-trip losslessly (VLA, not zero-padded)
    assert back.where(F.col("Index") == 5).first()["vec"] == [5]
    # FAILFAST must also accept width-only TFORM differences
    assert (spark.read.format("fits").option("hdu", 1)
            .option("mode", "FAILFAST").load(out).count() == 2000)


def test_fits_write_append_no_overwrite(spark, tmp_path):
    """append into an existing dir must not clobber earlier part files
    (task ids restart at 0 per job — names carry a uuid)."""
    out = str(tmp_path / "appended")
    base = spark.range(300).select(F.col("id").alias("Index"))
    base.repartition(2).write.format("fits").mode("append").save(out)
    base.repartition(2).write.format("fits").mode("append").save(out)
    back = spark.read.format("fits").option("hdu", 1).load(out)
    assert back.count() == 600
    assert back.agg(F.sum("Index")).first()[0] == 2 * sum(range(300))


def test_fits_write_pinned_widths(spark, tmp_path):
    """stringwidth/colwidths pin uniform TFORMs across part files; an
    overflow refuses to truncate."""
    src = spark.range(100).select(
        F.col("id").alias("Index"),
        F.col("id").cast("string").alias("name"),
        F.array(F.col("id")).alias("vec"),
    )
    out = str(tmp_path / "pinned")
    (src.repartition(3).write.format("fits").mode("overwrite")
     .option("stringwidth", "8").option("colwidths", "vec=4").save(out))
    import glob

    from spark_fits_spark.fitscore.file import open_hdu

    tforms = set()
    for fp in glob.glob(out + "/*.fits"):
        with open(fp, "rb") as f:
            hdu = open_hdu(f, fp, 1)
        tforms.add(tuple(hdu.col_tforms))
    assert len(tforms) == 1  # uniform across part files
    assert "8A" in next(iter(tforms))
    back = spark.read.format("fits").option("hdu", 1).load(out)
    assert back.count() == 100
    assert back.where(F.col("Index") == 7).first()["vec"] == [7, 0, 0, 0]

    with pytest.raises(Exception, match="exceeds pinned width"):
        (src.repartition(1).write.format("fits").mode("overwrite")
         .option("stringwidth", "1").save(str(tmp_path / "trunc")))


def test_fits_write_roundtrip_parquet_table(spark, tmp_path):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    out = str(tmp_path / "li_fits")
    li.write.format("fits").mode("append").save(out)
    back = spark.read.format("fits").option("hdu", 1).load(out)
    assert back.count() == li.count()
    a = li.agg(F.sum("l_quantity"), F.sum("l_orderkey")).first()
    b = back.agg(F.sum("l_quantity"), F.sum("l_orderkey")).first()
    assert a == b


def test_reassemble_images(spark):
    from spark_fits_spark.operators.images import image_stats, reassemble_images

    df = spark.read.format("fits").option("hdu", 2).load(f"{REF}/toTest/tst0009.fits")
    planes = reassemble_images(df).collect()
    assert len(planes) == 5
    by_idx = {p["ImgIndex"]: p for p in planes}
    for i in range(5):
        assert by_idx[i]["n_rows"] == 31
        assert all(len(r) == 73 for r in by_idx[i]["image"])
    stats = image_stats(df).collect()
    assert len(stats) == 5
    assert all(s["n_px"] == 31 * 73 for s in stats)


# -- image-mode sink (r5): .option("image", True) ------------------------


def _cube_df(spark, cube):
    rows = [(row.tolist(), p) for p in range(cube.shape[0])
            for row in cube[p]]
    return spark.createDataFrame(rows, "Image array<int>, ImgIndex long")


@pytest.mark.parametrize("comp", [None, "RICE_1", "GZIP_2"])
def test_image_sink_roundtrip(spark, tmp_path, comp):
    """Distributed image write: each partition lands as one IMAGE (or
    tiled-compressed image) HDU part; the scan reads the directory back
    with identical pixel content (permutation-invariant checks — part
    order is partition order)."""
    rng = np.random.default_rng(5)
    cube = (rng.normal(500, 20, (3, 40, 128))).astype("i4")
    df = _cube_df(spark, cube).repartition(4)
    out = str(tmp_path / f"img_{comp or 'plain'}")
    w = df.write.format("fits").option("image", True).option(
        "checksum", True).mode("append")
    if comp:
        w = w.option("compress", comp)
    w.save(out)
    back = spark.read.format("fits").option("hdu", 1).load(out)
    got = back.agg(
        F.sum(F.aggregate("Image", F.lit(0).cast("long"),
                          lambda a, x: a + x)).alias("s"),
        F.count("*").alias("n"),
        F.sum(F.array_max("Image").cast("long")).alias("mx"),
    ).first()
    arr = cube.astype(np.int64).reshape(-1, 128)
    assert got["n"] == 3 * 40
    assert got["s"] == int(arr.sum())
    assert got["mx"] == int(arr.max(axis=1).sum())


def test_image_sink_quantized_float_rice(spark, tmp_path):
    """Float image + RICE_1 through the sink: per-tile quantization
    (SUBTRACTIVE_DITHER_1) reconstructs within the quantization step."""
    rng = np.random.default_rng(9)
    img = (rng.normal(0, 1, (20, 64))).astype("f4")
    df = spark.createDataFrame([(r.tolist(),) for r in img],
                               "Image array<float>").coalesce(1)
    out = str(tmp_path / "img_f")
    (df.write.format("fits").option("image", True)
       .option("compress", "RICE_1")
       .option("quantize", "SUBTRACTIVE_DITHER_1")
       .option("zdither0", 7).mode("append").save(out))
    back = spark.read.format("fits").option("hdu", 1).load(out)
    vals = np.array([r["Image"] for r in back.orderBy("ImgIndex").collect()],
                    dtype=np.float32)
    step = (img.max() - img.min()) / 65000   # ~16-bit tile quantization
    assert np.abs(vals - img).max() < 3 * step


def test_image_sink_rejects_bad_shapes(spark, tmp_path):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    # ragged rows
    bad = spark.createDataFrame([([1, 2, 3],), ([1, 2],)],
                                "Image array<int>").coalesce(1)
    with pytest.raises((Py4JJavaError, PythonException, Exception),
                       match="ragged"):
        bad.write.format("fits").option("image", True).mode(
            "append").save(str(tmp_path / "ragged"))
    # NULL pixel
    withnull = spark.createDataFrame([([1, None, 3],)],
                                     "Image array<int>").coalesce(1)
    with pytest.raises(Exception, match="NULL"):
        withnull.write.format("fits").option("image", True).mode(
            "append").save(str(tmp_path / "nulls"))
    # wrong schema (two array columns)
    two = spark.createDataFrame([([1], [2])], "a array<int>, b array<int>")
    with pytest.raises(Exception, match="exactly one array"):
        two.coalesce(1).write.format("fits").option("image", True).mode(
            "append").save(str(tmp_path / "two"))


def test_image_sink_datamin_cards_and_empty_part(spark, tmp_path):
    """DATAMIN/DATAMAX standard cards are written per part; an empty
    partition writes a valid zero-row image the scan skips."""
    from spark_fits_spark.fitscore.file import open_hdu

    df = spark.createDataFrame(
        [([5, 9, 1],), ([7, 2, 8],)], "Image array<int>")
    # force one empty partition alongside the data
    out = str(tmp_path / "withempty")
    df.repartition(3).write.format("fits").option("image", True).mode(
        "append").save(out)
    import os

    parts = sorted(p for p in os.listdir(out) if p.endswith(".fits"))
    mins, maxs, rows = [], [], 0
    for p in parts:
        with open(os.path.join(out, p), "rb") as f:
            hdu = open_hdu(f, p, 1)
        if hdu.n_rows:
            mins.append(int(float(hdu.header["DATAMIN"])))
            maxs.append(int(float(hdu.header["DATAMAX"])))
        rows += hdu.n_rows
    assert rows == 2
    assert min(mins) == 1 and max(maxs) == 9
    back = spark.read.format("fits").option("hdu", 1).load(out)
    assert back.count() == 2


def test_aperture_photometry(spark, tmp_path):
    """Forced photometry over the scan surface: exact flux vs numpy on
    planted data, off-edge clamping, and the plan keeps the target list
    broadcast (no pixel shuffle before the per-aperture agg)."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.operators.images import aperture_photometry

    rng = np.random.default_rng(11)
    cube = rng.integers(0, 1000, (2, 20, 24)).astype("i4")
    p = str(tmp_path / "phot.fits")
    fw.write_fits(p, [fw.compressed_image_hdu(cube, "GZIP_2", tile_rows=7)])
    df = spark.read.format("fits").option("hdu", 1).load(p)
    aps = spark.createDataFrame(
        [(0, 0, 10, 10), (1, 1, 5, 12), (2, 1, 0, 0)],  # #2 clips at edge
        "ap_id int, plane int, x int, y int")
    out = aperture_photometry(df, aps, radius=3)
    got = {r["ap_id"]: (r["flux"], r["n_px"]) for r in out.collect()}

    def ref(plane, x, y, r=3):
        flux = n = 0
        for yy in range(20):
            dy = yy - y
            if abs(dy) > r:
                continue
            half = int(np.floor(np.sqrt(r * r - dy * dy)))
            for xx in range(max(0, x - half), min(24, x + half + 1)):
                flux += int(cube[plane, yy, xx])
                n += 1
        return float(flux), n

    for ap_id, (plane, x, y) in {0: (0, 10, 10), 1: (1, 5, 12),
                                 2: (1, 0, 0)}.items():
        assert got[ap_id] == ref(plane, x, y), ap_id
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_detect_sources(spark, tmp_path):
    """Distributed source extraction: box + L-shape + diagonal pair on
    a zero background — 8-connectivity merges the diagonal, 4 splits
    it; fluxes and centroids exact; sigma-clipped stats converge to
    (0, 0, 0) on the pure background."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.operators.images import (
        detect_sources,
        sigma_clipped_plane_stats,
    )

    img = np.zeros((2, 16, 20), dtype="i4")
    img[0, 2:4, 3:6] = 50                                  # box, 6 px
    img[0, 8, 10] = 70; img[0, 9, 10] = 70; img[0, 9, 11] = 70  # L, 3 px
    img[1, 5, 5] = 90; img[1, 6, 6] = 90                   # diagonal
    p = str(tmp_path / "det.fits")
    fw.write_fits(p, [fw.compressed_image_hdu(img, "RICE_1", tile_rows=4)])
    df = spark.read.format("fits").option("hdu", 1).load(p)

    st = {r["ImgIndex"]: r for r in sigma_clipped_plane_stats(df).collect()}
    assert (st[0]["bg_mean"], st[0]["bg_median"], st[0]["bg_std"]) == (0, 0, 0)

    out = {(r["plane"], r["n_px"]): r
           for r in detect_sources(df, connectivity=8).collect()}
    assert set(out) == {(0, 6), (0, 3), (1, 2)}
    box = out[(0, 6)]
    assert (box["flux"], box["peak"]) == (300.0, 50.0)
    assert (box["x_centroid"], box["y_centroid"]) == (4.0, 2.5)
    ell = out[(0, 3)]
    assert abs(ell["x_centroid"] - 31 / 3) < 1e-12   # (10+10+11)/3
    diag = out[(1, 2)]
    assert (diag["x_centroid"], diag["y_centroid"]) == (5.5, 5.5)
    four = detect_sources(df, connectivity=4).collect()
    assert sorted((r["plane"], r["n_px"]) for r in four) == [
        (0, 3), (0, 6), (1, 1), (1, 1)]
    # min_npix gate drops the singletons
    gated = detect_sources(df, connectivity=4, min_npix=2).collect()
    assert sorted((r["plane"], r["n_px"]) for r in gated) == [(0, 3), (0, 6)]


def test_sigma_clipped_stats_match_numpy_reference(spark):
    """Property (r7 median-on-final-round rewrite): on planes where the
    clipped set SHRINKS across rounds, every returned stat must equal a
    NumPy re-implementation of the same iteration — 3 rounds of
    keep-within mean±3·std_pop, stats on the final kept set. The ramp
    plane is discriminating for the median: its final-round median
    bracket ([44, 45]) excludes the median of any earlier round's set
    (spikes shift it to ≥ 46), so a median computed before the last
    clip fails here."""
    from spark_fits_spark.operators.images import sigma_clipped_plane_stats

    rng = np.random.default_rng(42)
    planes = {
        0: np.concatenate([np.full(95, 5.0), np.full(5, 1000.0)]),
        1: np.concatenate([np.arange(90, dtype="f8"),
                           np.full(5, 100000.0)]),
        2: rng.integers(0, 50, 97).astype("f8"),  # nothing clipped
    }
    rows = [(int(p), i, [float(v) for v in vals[i * 10:(i + 1) * 10]])
            for p, vals in planes.items()
            for i in range((len(vals) + 9) // 10)]
    df = spark.createDataFrame(
        [(p, y, v) for p, y, v in rows if v],
        "ImgIndex long, y long, Image array<double>")

    got = {r["ImgIndex"]: r
           for r in sigma_clipped_plane_stats(df, sigma=3.0,
                                              iters=3).collect()}
    for p, vals in planes.items():
        kept = vals
        for _ in range(3):
            lo = kept.mean() - 3.0 * kept.std()
            hi = kept.mean() + 3.0 * kept.std()
            nxt = kept[(kept >= lo) & (kept <= hi)]
            kept = nxt
        r = got[p]
        assert r["n_used"] == len(kept), p
        assert abs(r["bg_mean"] - kept.mean()) < 1e-9, p
        assert abs(r["bg_std"] - kept.std()) < 1e-9, p
        s = np.sort(kept)
        assert s[(len(s) - 1) // 2] <= r["bg_median"] <= s[len(s) // 2], p
    # the ramp plane's clipping is real: spikes gone, ramp intact
    assert got[1]["n_used"] == 90
    assert 44.0 <= got[1]["bg_median"] <= 45.0


def test_with_plane_rows_multi_partition(spark, tmp_path):
    """y derivation must hold when a plane's rows span SCAN PARTITIONS
    (the distributed prefix-sum path): tiny partitionbytes forces many
    partitions over a 3-plane cube; every row's recovered (plane, y)
    must identify its pixel content exactly, and no pixel-wide shuffle
    may precede the pixel-side join (the offsets table is broadcast)."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.operators.images import with_plane_rows

    cube = np.arange(3 * 50 * 16, dtype="i4").reshape(3, 50, 16)
    p = str(tmp_path / "mp.fits")
    fw.write_fits(p, [fw.image_hdu(cube)])
    df = (spark.read.format("fits").option("hdu", 1)
          .option("partitionbytes", 2048)  # 64 B/row -> ~32 rows/part
          .load(p))
    assert df.rdd.getNumPartitions() > 3
    rows = with_plane_rows(df).collect()
    assert len(rows) == 3 * 50
    for r in rows:
        assert list(r["Image"]) == list(cube[r["ImgIndex"], r["y"]]), (
            r["ImgIndex"], r["y"])


def test_image_sink_rejects_non_integral_imgindex(spark, tmp_path):
    bad = spark.createDataFrame([([1, 2], "x")],
                                "Image array<int>, ImgIndex string")
    with pytest.raises(Exception, match="integral"):
        bad.coalesce(1).write.format("fits").option("image", True).mode(
            "append").save(str(tmp_path / "badidx"))


def test_coadd_planes_nan_masking(spark, tmp_path):
    """Co-addition: mean stacks exclude NaN (masked) pixels
    per-position; sum mode sums the finite values; n_planes counts
    contributing planes per y."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.operators.images import coadd_planes

    cube = np.ones((3, 4, 5), dtype="f8")
    cube[0] *= 10.0
    cube[1] *= 20.0
    cube[2] *= 60.0
    cube[1, 2, 3] = np.nan          # masked in one exposure
    cube[:, 0, 0] = np.nan          # masked in ALL exposures
    p = str(tmp_path / "stack.fits")
    fw.write_fits(p, [fw.image_hdu(cube)])
    df = spark.read.format("fits").option("hdu", 1).load(p)
    got = {r["y"]: r for r in coadd_planes(df, "mean").collect()}
    assert all(got[y]["n_planes"] == 3 for y in range(4))
    assert got[1]["image"][1] == 30.0           # (10+20+60)/3
    assert got[2]["image"][3] == 35.0           # (10+60)/2, NaN dropped
    assert got[0]["image"][0] is None           # masked everywhere
    s = {r["y"]: r for r in coadd_planes(df, "sum").collect()}
    assert s[2]["image"][3] == 70.0
    with pytest.raises(ValueError, match="method"):
        coadd_planes(df, "mode")


def test_coadd_planes_robust_stacks(spark, tmp_path):
    """median / clipped_mean stacking == numpy reference per position:
    NaN exclusion, even/odd-count median interpolation, cosmic-ray
    spike rejected by the clip but dragging the plain mean."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.operators.images import coadd_planes

    rng = np.random.default_rng(3)
    cube = rng.integers(90, 110, (7, 4, 5)).astype("f8")
    cube[4, 1, 2] = 5000.0          # cosmic ray
    cube[2, 2, 3] = np.nan          # masked -> even count there
    p = str(tmp_path / "robust.fits")
    fw.write_fits(p, [fw.image_hdu(cube)])
    df = spark.read.format("fits").option("hdu", 1).load(p)

    med = {r["y"]: r["image"] for r in
           coadd_planes(df, "median").collect()}
    cm = {r["y"]: r["image"] for r in
          coadd_planes(df, "clipped_mean", sigma=3.0, iters=2).collect()}
    for y in range(4):
        for x in range(5):
            v = cube[:, y, x]
            v = v[~np.isnan(v)]
            assert abs(med[y][x] - float(np.median(v))) < 1e-12, (y, x)
    # the spike: median and clipped mean reject it, plain mean doesn't
    v = cube[:, 1, 2]
    kept = v[v < 1000]
    assert abs(cm[1][2] - kept.mean()) < 1e-12
    mean = {r["y"]: r["image"] for r in
            coadd_planes(df, "mean").collect()}
    assert mean[1][2] > 700.0

    def ref_clip(v, sigma=3.0, iters=2):
        v = v[~np.isnan(v)]
        for _ in range(iters):
            m = np.median(v)
            mad = np.median(np.abs(v - m))
            v = v[np.abs(v - m) <= sigma * 1.4826 * mad]
        return v

    nk = {r["y"]: r["n_kept"] for r in
          coadd_planes(df, "clipped_mean", sigma=3.0, iters=2).collect()}
    for y in range(4):
        for x in range(5):
            keep = ref_clip(cube[:, y, x])
            assert abs(cm[y][x] - keep.mean()) < 1e-12, (y, x)
            assert nk[y][x] == len(keep), (y, x)
    with pytest.raises(ValueError, match="sigma"):
        coadd_planes(df, "clipped_mean", sigma=0.0)
    with pytest.raises(ValueError, match="iters"):
        coadd_planes(df, "clipped_mean", iters=0)


def test_reproject_nearest_identity_and_shift(spark, tmp_path):
    """Reprojection onto the source's OWN WCS is the identity; a
    destination WCS whose CRPIX is offset by whole pixels is an exact
    translation; off-source destination pixels come back NULL."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.functions.wcs import TanWcs
    from spark_fits_spark.operators.images import (reproject_nearest,
                                                   with_plane_rows)

    h, w = 12, 16
    img = (np.arange(h * w, dtype="f8") + 1).reshape(h, w)
    p = str(tmp_path / "src.fits")
    fw.write_fits(p, [fw.image_hdu(img)])
    df = spark.read.format("fits").option("hdu", 1).load(p)
    rows = with_plane_rows(df).select("y", "Image")

    wcs = TanWcs(crval1=210.3, crval2=-5.7, crpix1=8.5, crpix2=6.5,
                 cd1_1=-2.7e-4, cd1_2=1.3e-5, cd2_1=1.2e-5, cd2_2=2.7e-4)
    ident = {r["y"]: r for r in
             reproject_nearest(rows, wcs, wcs, h, w).collect()}
    assert len(ident) == h
    for y in range(h):
        assert ident[y]["n_valid"] == w
        assert ident[y]["values"] == list(img[y])

    # CRPIX shifted by (+3, +2): dst pixel (x, y) sees src (x-3, y-2)
    shifted = TanWcs(**{**wcs.__dict__, "crpix1": wcs.crpix1 + 3,
                        "crpix2": wcs.crpix2 + 2})
    out = {r["y"]: r for r in
           reproject_nearest(rows, wcs, shifted, h, w).collect()}
    for y in range(h):
        vals = out[y]["values"]
        for x in range(w):
            if x < 3 or y < 2:
                assert vals[x] is None
            else:
                assert vals[x] == img[y - 2, x - 3]
        assert out[y]["n_valid"] == (0 if y < 2 else w - 3)

    with pytest.raises(ValueError, match="positive"):
        reproject_nearest(rows, wcs, wcs, 0, 5)


def test_mosaic_null_aware_stack(spark, tmp_path):
    """Mosaic: two shifted exposures stack with a NULL-aware mean —
    overlap averages, single-coverage passes through, no-coverage
    stays NULL; n_exposures counts contributors per position."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.functions.wcs import TanWcs
    from spark_fits_spark.operators.images import mosaic, with_plane_rows

    h, w = 6, 8
    base = (np.arange(h * w, dtype="f8") + 1).reshape(h, w)
    cube = np.stack([base, 10.0 * base])
    p = str(tmp_path / "exps.fits")
    fw.write_fits(p, [fw.image_hdu(cube)])
    df = spark.read.format("fits").option("hdu", 1).load(p)
    rows = with_plane_rows(df)
    wcs = TanWcs(crval1=10.0, crval2=1.0, crpix1=4.5, crpix2=3.5,
                 cd1_1=-3e-4, cd1_2=0.0, cd2_1=0.0, cd2_2=3e-4)
    # exposure 1's SRC CRPIX is +2 in x: dst (x, y) reads its src
    # pixel (x+2, y), so dst x >= w-2 falls off exposure 1's footprint
    shifted = TanWcs(**{**wcs.__dict__, "crpix1": wcs.crpix1 + 2})
    exps = [(rows.filter(F.col("ImgIndex") == 0).select("y", "Image"), wcs),
            (rows.filter(F.col("ImgIndex") == 1).select("y", "Image"),
             shifted)]
    out = {r["y"]: r for r in mosaic(exps, wcs, h, w).collect()}
    for y in range(h):
        vals, n = out[y]["values"], out[y]["n_exposures"]
        for x in range(w):
            if x >= w - 2:     # only exposure 0 covers the right edge
                assert n[x] == 1 and vals[x] == base[y, x]
            else:              # overlap: mean of v and 10*v(src x+2)
                assert n[x] == 2
                assert vals[x] == (base[y, x] + 10.0 * base[y, x + 2]) / 2

    import pytest as _pt
    with _pt.raises(ValueError, match="at least one"):
        mosaic([], wcs, h, w)


def test_difference_image_cancels_statics(spark, tmp_path):
    """Difference imaging: statics cancel exactly against a coadd
    template; only the transient survives, and detect_sources on the
    prepared rows finds exactly it."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.operators.images import (coadd_planes,
                                                   detect_sources,
                                                   difference_image,
                                                   with_plane_rows)

    cube = np.zeros((3, 6, 8), dtype="f8")
    cube[:, 1:3, 2:4] = 40.0             # static in all planes
    cube[2, 4, 6] = 90.0                 # transient in the science one
    p = str(tmp_path / "di.fits")
    fw.write_fits(p, [fw.image_hdu(cube)])
    scan = spark.read.format("fits").option("hdu", 1).load(p)
    tmpl = coadd_planes(scan.where(F.col("ImgIndex") < 2), method="mean")
    sci = (with_plane_rows(scan.where(F.col("ImgIndex") == 2))
           .select("ImgIndex", "y", "Image"))
    diff = difference_image(sci, tmpl, template_values="image")
    rows = {r["y"]: r["Image"] for r in diff.collect()}
    assert rows[1] == [0.0] * 8 and rows[2] == [0.0] * 8   # static gone
    assert rows[4][6] == 90.0
    det = detect_sources(diff, prepared=True).collect()
    assert len(det) == 1
    assert det[0]["flux"] == 90.0 and det[0]["n_px"] == 1
    assert det[0]["x_centroid"] == 6.0 and det[0]["y_centroid"] == 4.0


def test_convolve2d_numpy_parity(spark):
    """convolve2d == hand-rolled zero-padded numpy correlation, exactly
    (integer pixels -> order-free double sums), incl. edges, multiple
    planes, and a non-square kernel; kernel validation raises."""
    import numpy as np

    from spark_fits_spark.operators.images import convolve2d

    rng = np.random.default_rng(7)
    cube = rng.integers(0, 100, (3, 9, 11)).astype("i8")
    rows = [(int(p), int(y), [int(v) for v in cube[p, y]])
            for p in range(3) for y in range(9)]
    df = spark.createDataFrame(
        rows, "ImgIndex long, y long, Image array<long>")

    def ref(k):
        k = np.asarray(k, dtype="f8")
        cy, cx = k.shape[0] // 2, k.shape[1] // 2
        pad = np.pad(cube.astype("f8"),
                     ((0, 0), (cy, cy), (cx, cx)))
        out = np.zeros_like(cube, dtype="f8")
        for dy in range(k.shape[0]):
            for dx in range(k.shape[1]):
                out += k[dy, dx] * pad[:, dy:dy + 9, dx:dx + 11]
        return out

    for k in ([[1, 2, 1], [2, 4, 2], [1, 2, 1]],
              [[-1, 0, 1]],
              [[1], [0], [-1]],
              [[0, 1, 0, 0, 0], [1, 2, 1, 0, 0], [0, 1, 0, 0, 1]]):
        got = {(r["ImgIndex"], r["y"]): r["Image"]
               for r in convolve2d(df, k).collect()}
        want = ref(k)
        assert len(got) == 27, k
        for p in range(3):
            for y in range(9):
                assert got[(p, y)] == list(want[p, y]), (k, p, y)

    import pytest as _pt
    with _pt.raises(ValueError, match="odd"):
        convolve2d(df, [[1, 2], [3, 4]])
    with _pt.raises(ValueError, match="rectangle"):
        convolve2d(df, [[1, 2, 3], [1, 2]])
    with _pt.raises(ValueError, match="all zeros"):
        convolve2d(df, [[0]])
    # composes with detect_sources(prepared=True): smoothing must not
    # move the single hot pixel's component peak position
    one = [(0, y, [0] * 11) for y in range(9)]
    one[4] = (0, 4, [0] * 5 + [900] + [0] * 5)
    sdf = spark.createDataFrame(
        one, "ImgIndex long, y long, Image array<long>")
    sm = convolve2d(sdf, [[1, 2, 1], [2, 4, 2], [1, 2, 1]])
    from spark_fits_spark.operators.images import detect_sources
    src = detect_sources(sm, threshold_sigma=5.0,
                         prepared=True).collect()
    assert len(src) == 1
    assert abs(src[0]["x_centroid"] - 5.0) < 1e-9
    assert abs(src[0]["y_centroid"] - 4.0) < 1e-9
    assert src[0]["peak"] == 3600.0


def test_inject_sources(spark):
    """Injection == numpy reference: covered pixels raised by amp,
    overlapping injections add, untouched rows/planes bit-identical,
    pixel data broadcast-joined (no pixel shuffle)."""
    from spark_fits_spark.operators.images import inject_sources

    rows = [(p, y, [float(10 * p + y)] * 6)
            for p in range(2) for y in range(5)]
    df = spark.createDataFrame(
        rows, "ImgIndex long, y long, Image array<double>")
    cat = spark.createDataFrame(
        [(0, 1, 2, 2, 3, 100.0),     # plane 0: rows 1-2, cols 2-4
         (0, 2, 4, 1, 2, 7.0),       # overlaps previous at (2,4)
         (1, 0, 0, 1, 1, 5.0)],
        "plane long, y0 long, x0 long, height long, width long, "
        "amplitude double")
    got = {(r["ImgIndex"], r["y"]): r["Image"]
           for r in inject_sources(df, cat).collect()}
    base = {(p, y): [float(10 * p + y)] * 6
            for p in range(2) for y in range(5)}
    want = {k: list(v) for k, v in base.items()}
    for x in (2, 3, 4):
        want[(0, 1)][x] += 100.0
        want[(0, 2)][x] += 100.0
    for x in (4, 5):
        want[(0, 2)][x] += 7.0
    want[(1, 0)][0] += 5.0
    assert got == want
    plan = (inject_sources(df, cat)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_background_mesh_and_subtract(spark):
    """Mesh == per-cell numpy median; bilinear subtraction == a
    hand-rolled clamped bilinear reference at every pixel; flat
    background subtracts to ~zero away from sources."""
    from spark_fits_spark.operators.images import (background_mesh,
                                                   subtract_background)

    rng = np.random.default_rng(9)
    img = rng.integers(100, 120, (2, 12, 16)).astype(float)
    img[0, 3:5, 6:9] += 500.0          # a source in one tile
    rows = [(p, y, [float(v) for v in img[p, y]])
            for p in range(2) for y in range(12)]
    df = spark.createDataFrame(
        rows, "ImgIndex long, y long, Image array<double>")
    cell = 4
    mesh = background_mesh(df, cell)
    got_mesh = {(r["ImgIndex"], r["cy"], r["cx"]): r
                for r in mesh.collect()}
    nm = {}
    for p in range(2):
        for cy in range(3):
            for cx in range(4):
                tile = img[p, cy * 4:cy * 4 + 4, cx * 4:cx * 4 + 4]
                nm[(p, cy, cx)] = float(np.median(tile))
                assert got_mesh[(p, cy, cx)]["n_px"] == 16
                assert abs(got_mesh[(p, cy, cx)]["bg"]
                           - nm[(p, cy, cx)]) < 1e-12

    sub = {(r["ImgIndex"], r["y"]): r["Image"] for r in
           subtract_background(df, mesh, cell).collect()}

    def bg_at(p, y, x):
        ty = min(max((y - 1.5) / 4.0, 0.0), 2.0)
        tx = min(max((x - 1.5) / 4.0, 0.0), 3.0)
        y0, x0 = int(ty), int(tx)
        y1, x1 = min(y0 + 1, 2), min(x0 + 1, 3)
        fy, fx = ty - y0, tx - x0
        return ((1 - fy) * ((1 - fx) * nm[(p, y0, x0)]
                            + fx * nm[(p, y0, x1)])
                + fy * ((1 - fx) * nm[(p, y1, x0)]
                        + fx * nm[(p, y1, x1)]))

    resid = []
    for p in range(2):
        for y in range(12):
            for x in range(16):
                want = img[p, y, x] - bg_at(p, y, x)
                assert abs(sub[(p, y)][x] - want) < 1e-9, (p, y, x)
                if not (p == 0 and 3 <= y < 5 and 6 <= x < 9):
                    resid.append(sub[(p, y)][x])
    assert max(abs(r) for r in resid) < 25   # flat field ~ cancels
    plan = (subtract_background(df, mesh, cell)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    with pytest.raises(ValueError, match="cell"):
        background_mesh(df, 0)


def test_detect_sources_random_planes_match_numpy_flood_fill(spark):
    """Property (r7): on random sparse planes, detect_sources must
    reproduce a pure-NumPy reference end to end — sigma-clipped
    threshold, 4/8-connected labeling (flood fill), per-source n_px /
    flux / peak / flux-weighted centroids, and source_id = packed id
    of the component's min-(y, x) pixel. Random shapes exercise the
    packed-id neighbor join and the CC fast path on geometry the fixed
    fixtures never draw (touching blobs, border pixels, multi-plane)."""
    from spark_fits_spark.operators.images import (
        _YX_BITS,
        detect_sources,
        sigma_clipped_plane_stats,
    )

    rng = np.random.default_rng(707)
    ny, nx = 14, 18
    planes = {}
    for p in range(3):
        img = np.zeros((ny, nx))
        # random bright blobs: a few seed pixels grown by random walks,
        # values well above the (all-zero) background
        for _ in range(rng.integers(2, 5)):
            y, x = int(rng.integers(0, ny)), int(rng.integers(0, nx))
            for _ in range(int(rng.integers(1, 7))):
                img[y, x] = float(rng.integers(50, 200))
                y = min(ny - 1, max(0, y + int(rng.integers(-1, 2))))
                x = min(nx - 1, max(0, x + int(rng.integers(-1, 2))))
        planes[p] = img

    rows = [(p, y, [float(v) for v in planes[p][y]])
            for p in planes for y in range(ny)]
    df = spark.createDataFrame(
        rows, "ImgIndex long, y long, Image array<double>")

    def np_reference(connectivity):
        # threshold identical to detect_sources: bg_median + 5·bg_std
        # from the 3-round clipped stats (replayed in NumPy)
        out = {}
        for p, img in planes.items():
            kept = img.ravel()
            for _ in range(3):
                lo = kept.mean() - 3 * kept.std()
                hi = kept.mean() + 3 * kept.std()
                kept = kept[(kept >= lo) & (kept <= hi)]
            thr = np.median(kept) + 5.0 * kept.std()
            mask = img > thr
            offs = [(0, 1), (1, 0), (0, -1), (-1, 0)]
            if connectivity == 8:
                offs += [(1, 1), (1, -1), (-1, 1), (-1, -1)]
            seen = np.zeros_like(mask, dtype=bool)
            for sy in range(ny):
                for sx in range(nx):
                    if not mask[sy, sx] or seen[sy, sx]:
                        continue
                    comp, stack = [], [(sy, sx)]
                    seen[sy, sx] = True
                    while stack:
                        cy, cx = stack.pop()
                        comp.append((cy, cx))
                        for dy, dx in offs:
                            yy, xx = cy + dy, cx + dx
                            if (0 <= yy < ny and 0 <= xx < nx
                                    and mask[yy, xx] and not seen[yy, xx]):
                                seen[yy, xx] = True
                                stack.append((yy, xx))
                    vals = np.array([img[c] for c in comp])
                    my, mx_ = min(comp)  # min (y, x) lexicographic
                    sid = ((p << _YX_BITS) + my << _YX_BITS) + mx_
                    out[(p, sid)] = (
                        len(comp), vals.sum(), vals.max(),
                        sum(img[c] * c[1] for c in comp) / vals.sum(),
                        sum(img[c] * c[0] for c in comp) / vals.sum())
        return out

    for conn in (4, 8):
        got = {(r["plane"], r["source_id"]):
               (r["n_px"], r["flux"], r["peak"],
                r["x_centroid"], r["y_centroid"])
               for r in detect_sources(df, threshold_sigma=5.0,
                                       connectivity=conn,
                                       prepared=True).collect()}
        want = np_reference(conn)
        assert set(got) == set(want), conn
        for key, w in want.items():
            g = got[key]
            assert g[0] == w[0], (conn, key)
            for gi, wi in zip(g[1:], w[1:]):
                assert abs(gi - wi) < 1e-9, (conn, key)
    # the fixture is non-trivial: some plane has ≥2 sources and the
    # two connectivities disagree somewhere across the random draws
    assert len(np_reference(8)) >= 4
    assert np_reference(4) != np_reference(8)


def test_detect_sources_rejects_oversized_axis(spark):
    """The packed-id y/x < 2^20−1 contract fails LOUD, not by aliasing:
    a bright pixel at an oversized row index raises (in-projection
    raise_error guard, r7 — replaces the extra max-aggregation pass)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from spark_fits_spark.operators.images import detect_sources

    df = spark.createDataFrame(
        [(0, (1 << 20) - 1, [1000.0]), (0, 0, [0.0] * 8), (0, 1, [0.0] * 8)],
        "ImgIndex long, y long, Image array<double>")
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="re-tile or split"):
        detect_sources(df, prepared=True).collect()


def test_detect_sources_keeps_caller_cache(spark):
    """r7 ADVICE: detect_sources' scoped persist of a prepared input
    must not adopt (and then evict, at scope exit) a cache block the
    CALLER already owns — e.g. a difference_image output persisted for
    reuse across several detect calls."""
    from spark_fits_spark.operators.images import detect_sources

    img = [[0.0] * 8 for _ in range(8)]
    img[3][4] = 500.0
    df = spark.createDataFrame(
        [(0, y, img[y]) for y in range(8)],
        "ImgIndex long, y long, Image array<double>").persist()
    try:
        df.count()
        assert df.storageLevel.useMemory
        got = detect_sources(df, prepared=True).collect()
        assert len(got) == 1 and got[0]["peak"] == 500.0
        # the caller's cache survives the operator's release_after scope
        assert df.storageLevel.useMemory, df.storageLevel
        jspark = spark._jsparkSession
        assert jspark.sharedState().cacheManager().lookupCachedData(
            df._jdf).isDefined()
    finally:
        df.unpersist()


def test_detect_sources_local_background(spark):
    """A strong sky gradient: global thresholding either floods the
    bright corner or misses the faint source in it; local-background
    detection recovers BOTH planted sources at exact centroids with
    gradient-free fluxes."""
    from spark_fits_spark.operators.images import detect_sources

    h, w, cell = 16, 16, 4
    img = np.zeros((1, h, w))
    for y in range(h):
        for x in range(w):
            img[0, y, x] = 200.0 * (y // cell)  # cell-aligned staircase
    img[0, 2, 2] += 500.0                        # source in the dark rows
    img[0, 13, 10] += 500.0                      # source in the bright rows
    rows = [(0, y, [float(v) for v in img[0, y]]) for y in range(h)]
    df = spark.createDataFrame(
        rows, "ImgIndex long, y long, Image array<double>")
    got = detect_sources(df, threshold_sigma=5.0, prepared=True,
                         local_background_cell=cell).collect()
    cents = sorted((round(r["y_centroid"], 6), round(r["x_centroid"], 6),
                    r["flux"]) for r in got)
    # bilinear smoothing of the staircase leaves a small sawtooth
    # residual, so fluxes are near (not exactly) the amplitudes;
    # centroids of the single-pixel sources are exact
    assert len(cents) == 2, cents
    assert cents[0][:2] == (2.0, 2.0) and abs(cents[0][2] - 500.0) < 110
    assert cents[1][:2] == (13.0, 10.0) and abs(cents[1][2] - 500.0) < 110
    # global mode on the same field cannot see both: it merges the
    # bright rows into one giant component or misses the faint one
    glob = detect_sources(df, threshold_sigma=5.0,
                          prepared=True).collect()
    gcents = sorted((round(r["y_centroid"], 2), round(r["x_centroid"], 2))
                    for r in glob)
    assert gcents != [(2.0, 2.0), (13.0, 10.0)]


def test_defect_columns(spark):
    """Planted hot and dead columns are flagged; normal columns are
    not; medians match numpy per column; MAD=0 planes (perfectly
    uniform) flag any deviating column."""
    from spark_fits_spark.operators.images import defect_columns

    rng = np.random.default_rng(12)
    img = rng.integers(100, 110, (2, 20, 12)).astype(float)
    img[0, :, 4] += 900.0       # hot column on plane 0
    img[0, :, 9] = 0.0          # dead column on plane 0
    rows = [(p, y, [float(v) for v in img[p, y]])
            for p in range(2) for y in range(20)]
    df = spark.createDataFrame(
        rows, "ImgIndex long, y long, Image array<double>")
    got = {(r["ImgIndex"], r["x"]): r for r in
           defect_columns(df, sigma=5.0).collect()}
    assert len(got) == 24
    for p in range(2):
        for x in range(12):
            assert abs(got[(p, x)]["col_median"]
                       - float(np.median(img[p, :, x]))) < 1e-12
    flagged = sorted(k for k, r in got.items() if r["is_defect"])
    assert flagged == [(0, 4), (0, 9)]
    # r10 plan shape: the per-plane median/MAD reduction runs as
    # window aggregates over the column table — no broadcast
    # materialization jobs (the old agg + broadcast-join-back pair
    # cost two extra job launches per call, 7 -> 4 measured)
    plan = (defect_columns(df, sigma=5.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" not in plan
    assert plan.count("Window") >= 2


def test_calibrate_frames(spark):
    """(science - dark) / flat per pixel == numpy; dead flat pixels
    (<= 0) come back NULL; all planes calibrated against the same
    masters."""
    from spark_fits_spark.operators.images import calibrate_frames

    rng = np.random.default_rng(6)
    sci = rng.integers(500, 600, (3, 5, 8)).astype(float)
    dark = rng.integers(40, 60, (5, 8)).astype(float)
    flat = rng.uniform(0.8, 1.2, (5, 8))
    flat[2, 3] = 0.0            # dead pixel
    flat[4, 7] = -1.0           # pathological
    sdf = spark.createDataFrame(
        [(p, y, [float(v) for v in sci[p, y]])
         for p in range(3) for y in range(5)],
        "ImgIndex long, y long, Image array<double>")
    ddf = spark.createDataFrame(
        [(y, [float(v) for v in dark[y]]) for y in range(5)],
        "y long, values array<double>")
    fdf = spark.createDataFrame(
        [(y, [float(v) for v in flat[y]]) for y in range(5)],
        "y long, values array<double>")
    got = {(r["ImgIndex"], r["y"]): r["Image"] for r in
           calibrate_frames(sdf, ddf, fdf).collect()}
    for p in range(3):
        for y in range(5):
            for x in range(8):
                v = got[(p, y)][x]
                if flat[y, x] <= 0:
                    assert v is None, (p, y, x)
                else:
                    want = (sci[p, y, x] - dark[y, x]) / flat[y, x]
                    assert abs(v - want) < 1e-12, (p, y, x)


def test_repair_defects(spark):
    """Flagged columns take the same-row mean of nearest good left and
    right neighbors (one-sided at the edges, adjacent bad columns skip
    to the next good one); good columns pass through bit-identical."""
    from spark_fits_spark.operators.images import repair_defects

    W = 8
    rows = [(0, y, [float(10 * y + x) for x in range(W)])
            for y in range(4)]
    df = spark.createDataFrame(
        rows, "ImgIndex long, y long, Image array<double>")
    bad = {0, 3, 4, 7}   # edge, adjacent pair, other edge
    defects = spark.createDataFrame(
        [(0, x, x in bad) for x in range(W)],
        "ImgIndex long, x long, is_defect boolean")
    got = {r["y"]: r["Image"] for r in
           repair_defects(df, defects).collect()}
    for y in range(4):
        v = [10.0 * y + x for x in range(W)]
        want = list(v)
        want[0] = v[1]                 # left edge: right-only
        want[3] = (v[2] + v[5]) / 2    # skips bad 4
        want[4] = (v[2] + v[5]) / 2
        want[7] = v[6]                 # right edge: left-only
        assert got[y] == want, (y, got[y], want)


def test_coadd_planes_weighted(spark, tmp_path):
    """wmean == numpy weighted mean per position, NaN pixels drop
    their weight, missing plane_weights raises."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.operators.images import coadd_planes

    cube = np.array([[[10.0, 20.0]], [[30.0, np.nan]], [[50.0, 60.0]]])
    p = str(tmp_path / "w.fits")
    fw.write_fits(p, [fw.image_hdu(cube)])
    df = spark.read.format("fits").option("hdu", 1).load(p)
    w = {0: 1.0, 1: 2.0, 2: 5.0}
    got = coadd_planes(df, "wmean", plane_weights=w).collect()[0]["image"]
    assert abs(got[0] - (10 + 2 * 30 + 5 * 50) / 8.0) < 1e-12
    assert abs(got[1] - (20 + 5 * 60) / 6.0) < 1e-12  # NaN drops w=2
    with pytest.raises(ValueError, match="plane_weights"):
        coadd_planes(df, "wmean")
