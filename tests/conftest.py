import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("spark-fits-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    from spark_fits_spark import register_fits

    register_fits(spark)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fits_dir(tmp_path_factory):
    """Generate a multi-file FITS fixture set with our own writer
    (mirrors the reference's dir/ fixtures, FIXTURES.md F8)."""
    from spark_fits_spark.fitscore import writer

    d = tmp_path_factory.mktemp("fits")
    rng = np.random.RandomState(0)

    def catalog(n, seed):
        r = np.random.RandomState(seed)
        return [
            ("target", "10A", np.array([f"NGC{i:07d}" for i in range(n)])),
            ("RA", "E", r.uniform(0, 2 * np.pi, n).astype(">f4")),
            ("Dec", "D", r.uniform(-np.pi / 2, np.pi / 2, n)),
            ("Index", "K", np.arange(n, dtype=">i8")),
            ("RunId", "J", np.ones(n, dtype=">i4")),
        ]

    writer.write_fits(str(d / "cat1.fits"), [writer.bintable_hdu(catalog(20000, 0))])
    writer.write_fits(str(d / "cat2.fits"), [writer.bintable_hdu(catalog(7000, 1))])
    (d / "I_am_not_a_fits.txt").write_text("decoy")
    # an image file and an empty-HDU file in subdirs
    img = (rng.rand(5, 31, 73) * 100).astype("f4")
    writer.write_fits(str(d / "img" / "cube.fits"), [writer.image_hdu(img)]) if (
        (d / "img").mkdir() or True
    ) else None
    empty_dir = d / "withempty"
    empty_dir.mkdir()
    writer.write_fits(str(empty_dir / "0_notempty.fits"),
                      [writer.bintable_hdu(catalog(100, 2))])
    writer.write_fits(str(empty_dir / "1_empty.fits"), [])  # primary only
    return str(d)
