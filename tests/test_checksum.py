"""FITS CHECKSUM/DATASUM (standard §4.4.2.7 + Appendix J): unit
properties of the ones'-complement sum and ASCII encoding, HDU-level
fill/verify, and the Spark writer-option → distributed-audit loop."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_fits_spark import fits_verify_checksums
from spark_fits_spark.fitscore import writer as fw
from spark_fits_spark.fitscore.checksum import (
    apply_checksums, encode_checksum, sum32, verify_hdu)

# reference-suite fixtures, rebuilt by tests/data/make_fixtures.py
REF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_sum32_end_around_carry():
    # 0xFFFFFFFF + 1 wraps to 1 in ones'-complement arithmetic
    assert sum32(b"\xff\xff\xff\xff\x00\x00\x00\x01") == 1
    assert sum32(b"\x00\x00\x00\x2a") == 42
    # chaining partial sums == one pass
    buf = bytes(range(256)) * 45  # 11520 = 4 blocks of words
    assert sum32(buf) == sum32(buf[5760:], start=sum32(buf[:5760]))


def test_encode_checksum_alphanumeric_and_zero():
    assert encode_checksum(0) == "0" * 16
    rng = np.random.RandomState(7)
    for v in rng.randint(0, 2**32, 50, dtype=np.uint64):
        s = encode_checksum(int(v))
        assert len(s) == 16 and s.isalnum()


def _sample_hdu(checksum=True, seed=0):
    rng = np.random.RandomState(seed)
    return fw.bintable_hdu(
        [("Index", "K", np.arange(500)),
         ("val", "E", rng.rand(500).astype(">f4"))],
        checksum=checksum)


def test_hdu_checksum_roundtrip_and_corruption():
    hdu = _sample_hdu()
    assert verify_hdu(hdu) == (True, True)

    # flip one data byte → both sums break
    bad = bytearray(hdu)
    bad[-100] ^= 0x5A
    assert verify_hdu(bytes(bad)) == (False, False)

    # flip a header byte (a TTYPE card) → data ok, HDU sum breaks
    hdr_bad = bytearray(hdu)
    pos = hdu.index(b"TTYPE1")
    hdr_bad[pos + 11] ^= 0x01
    ds_ok, ck_ok = verify_hdu(bytes(hdr_bad))
    assert ds_ok is True and ck_ok is False

    # no checksum cards → both verdicts None
    assert verify_hdu(_sample_hdu(checksum=False)) == (None, None)

    # placeholder-less HDU cannot be filled in post-hoc
    with pytest.raises(ValueError, match="placeholder"):
        apply_checksums(_sample_hdu(checksum=False))


def test_image_and_primary_checksums(tmp_path):
    img = fw.image_hdu(np.arange(24, dtype=np.int32).reshape(2, 3, 4),
                       checksum=True)
    assert verify_hdu(img) == (True, True)
    prim = fw.primary_hdu(checksum=True)
    assert verify_hdu(prim) == (True, True)  # zero-length data sums to 0


def test_writer_option_and_distributed_audit(spark, tmp_path):
    src = spark.range(3000).select(
        F.col("id").alias("Index"),
        (F.col("id") * 0.25).cast("double").alias("x"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
    )
    out = str(tmp_path / "ck")
    (src.repartition(3).write.format("fits").mode("overwrite")
     .option("checksum", True).save(out))

    audit = fits_verify_checksums(spark, out)
    rows = audit.collect()
    assert len(rows) == 6  # 3 part files x (primary + bintable)
    assert all(r["datasum_ok"] and r["checksum_ok"] for r in rows)

    # the data still reads back exactly
    back = spark.read.format("fits").option("hdu", 1).load(out)
    assert back.agg(F.sum("Index")).first()[0] == sum(range(3000))

    # corrupt one part file → exactly its bintable row flips to False
    import glob
    victim = sorted(glob.glob(f"{out}/*.fits"))[0]
    with open(victim, "r+b") as f:
        f.seek(-4, 2)
        f.write(b"\xde\xad\xbe\xef")
    audit2 = {(r["file"], r["hdu"]): r
              for r in fits_verify_checksums(spark, out).collect()}
    assert audit2[(victim, 1)]["checksum_ok"] is False
    ok = [k for k, r in audit2.items() if r["checksum_ok"]]
    assert len(ok) == 5

    # files without checksum cards audit as NULL, not False
    plain = str(tmp_path / "plain")
    (src.limit(10).repartition(1).write.format("fits")
     .mode("overwrite").save(plain))
    nulls = fits_verify_checksums(spark, plain).collect()
    assert all(r["datasum_ok"] is None and r["checksum_ok"] is None
               for r in nulls)


def test_reference_fixture_audit_is_null(spark):
    """The reference's fixtures carry no checksum cards — the audit
    reports NULL verdicts (absence), never false failures."""
    rows = fits_verify_checksums(spark, f"{REF}/test_file.fits").collect()
    assert len(rows) >= 2
    assert all(r["checksum_ok"] is None for r in rows)
