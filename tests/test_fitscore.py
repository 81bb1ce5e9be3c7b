"""Unit tests for fitscore — ports of the reference's FitsLibTest /
FitsSchemaTest golden values (run against the reference's fixtures as
rebuilt by the standalone tests/data/make_fixtures.py) plus round-trips
through our own writer."""

import io
import os

import numpy as np
import pyarrow as pa
import pytest

from spark_fits_spark.fitscore import (
    get_block_boundaries,
    get_n_hdu,
    open_hdu,
    parse_cards,
    parse_tform,
    short_string_value,
)
from spark_fits_spark.fitscore.decode import decode_bintable, decode_image
from spark_fits_spark.fitscore.file import walk_hdus
from spark_fits_spark.fitscore.header import split_card
from spark_fits_spark.fitscore import writer

# reference-suite fixtures, rebuilt by tests/data/make_fixtures.py
REF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# ---------- golden values from the reference fixtures (FitsLibTest) ----------

def test_block_boundaries_golden():
    # FitsLibTest.scala:97-101 — HDU 1 of test_file.fits
    with open(f"{REF}/test_file.fits", "rb") as f:
        b = get_block_boundaries(f, 1)
    assert (b.header_start, b.data_start, b.data_stop, b.block_stop) == (
        2880, 5760, 685760, 688320)


def test_n_hdu_golden():
    # FitsLibTest.scala:104-108
    with open(f"{REF}/test_file.fits", "rb") as f:
        assert get_n_hdu(f) == 3


def test_bintable_metadata_golden():
    # FIXTURES.md F1: HDU1 NAXIS1=34, NAXIS2=20000, TFIELDS=5
    with open(f"{REF}/test_file.fits", "rb") as f:
        hdu = open_hdu(f, "test_file.fits", 1)
    assert hdu.hdu_type == "bintable"
    assert hdu.row_bytes == 34
    assert hdu.n_rows == 20000
    assert hdu.col_names == ("target", "RA", "Dec", "Index", "RunId")
    assert hdu.col_tforms == ("10A", "E", "D", "K", "J")
    # splitLocations analog: [10A,E,D,K,J] → [0,10,14,22,30,34]
    assert hdu.split_locations == [0, 10, 14, 22, 30, 34]


def test_first_rows_golden():
    # FitsLibTest.scala:154-210 / packageTest.scala:248-253:
    # first row of the file is NGC0000000, Index 0..n continuous
    with open(f"{REF}/test_file.fits", "rb") as f:
        hdu = open_hdu(f, "test_file.fits", 1)
        f.seek(hdu.boundaries.data_start)
        buf = f.read(hdu.row_bytes * 10)
    schema = pa.schema([
        ("target", pa.string()), ("RA", pa.float32()), ("Dec", pa.float64()),
        ("Index", pa.int64()), ("RunId", pa.int32())])
    batch = decode_bintable(buf, hdu, [0, 1, 2, 3, 4], schema)
    d = batch.to_pydict()
    assert d["target"][0] == "NGC0000000"
    assert d["target"][9] == "NGC0000009"
    assert d["Index"] == list(range(10))
    assert all(r == 1 for r in d["RunId"])
    assert all(0.0 <= ra <= 2 * np.pi for ra in d["RA"])


def test_full_decode_sum_golden():
    # packageTest.scala:112-121 — sum(Index) == 199990000 over 20000 rows
    with open(f"{REF}/test_file.fits", "rb") as f:
        hdu = open_hdu(f, "test_file.fits", 1)
        f.seek(hdu.boundaries.data_start)
        buf = f.read(hdu.boundaries.data_len)
    schema = pa.schema([("Index", pa.int64())])
    batch = decode_bintable(buf, hdu, [3], schema)
    assert batch.num_rows == 20000
    assert sum(batch.column(0).to_pylist()) == 199990000


def test_longheader_golden():
    # FitsLibTest.scala:139-144 — header spans >1 block (409 cards)
    with open(f"{REF}/test_longheader_file.fits", "rb") as f:
        hdu = open_hdu(f, "x", 1)
    assert hdu.hdu_type == "bintable"
    assert hdu.n_rows == 100
    assert hdu.boundaries.data_start - hdu.boundaries.header_start > 2880


def test_slash_colnames_golden():
    # packageTest.scala:256-262 — quoted TTYPE values containing '/'
    with open(f"{REF}/colnames_with_slash.fits", "rb") as f:
        hdu = open_hdu(f, "x", 1)
    assert hdu.col_names == (
        "lsst/u_MEAN", "lsst/g_MEAN", "euclid/VIS_MEAN", "euclid/Y_MEAN")


def test_hdu_types_golden():
    # tst0009.fits: HDU1 = ASCII TABLE (stub), HDU2 = IMAGE 73x31x5
    with open(f"{REF}/toTest/tst0009.fits", "rb") as f:
        t1 = open_hdu(f, "x", 1)
        t2 = open_hdu(f, "x", 2)
    assert t1.hdu_type == "table"
    assert t2.hdu_type == "image"
    assert t2.naxis == (73, 31, 5)
    assert t2.n_rows == 31 * 5  # ReadFitsTest.scala:108-115 → 155 rows
    assert t2.image_tform == "I"  # BITPIX=16


def test_image_decode_imgindex():
    with open(f"{REF}/toTest/tst0009.fits", "rb") as f:
        hdu = open_hdu(f, "x", 2)
        f.seek(hdu.boundaries.data_start)
        buf = f.read(hdu.boundaries.data_len)
    schema = pa.schema([("Image", pa.list_(pa.int16())), ("ImgIndex", pa.int64())])
    batch = decode_image(buf, hdu, 0, schema)
    assert batch.num_rows == 155
    d = batch.to_pydict()
    assert all(len(row) == 73 for row in d["Image"])
    assert d["ImgIndex"][0] == 0 and d["ImgIndex"][154] == 4
    assert sorted(set(d["ImgIndex"])) == [0, 1, 2, 3, 4]


def test_empty_and_out_of_range():
    with open(f"{REF}/test_file.fits", "rb") as f:
        h0 = open_hdu(f, "x", 0)
        assert h0.hdu_type == "empty"
        with pytest.raises(ValueError, match="out of range"):
            open_hdu(f, "x", 3)


# ---------- card / header parsing ----------

def test_split_card_variants():
    c = "NAXIS1  =                   34 / length of dimension 1                          "
    assert split_card(c) == ("NAXIS1", "34", "length of dimension 1")
    c2 = "TTYPE1  = 'lsst/u_MEAN'       / label for field                                "
    kw, v, com = split_card(c2)
    assert kw == "TTYPE1" and short_string_value(v) == "lsst/u_MEAN"
    c3 = "COMMENT this is a comment                                                       "
    assert split_card(c3)[1] is None


def test_parse_cards_duplicate_keyword_last_wins():
    """Duplicate keywords keep the LAST occurrence — the reference's
    parseHeader builds a Scala Map via .toMap (FitsLib.scala:110-115),
    where later pairs overwrite earlier ones."""
    cards = [
        "EXPTIME =                   30 / first exposure                                 ",
        "EXPTIME =                   60 / second exposure                                ",
    ]
    assert parse_cards(cards)["EXPTIME"] == "60"
    from spark_fits_spark.fitscore.header import parse_comments

    assert parse_comments(cards)["EXPTIME"] == "second exposure"


def test_writer_card_float_edge_cases():
    """_card guards: a non-finite float raises (no 'INF'/'NAN' garbage
    cards), and a full-precision repr longer than the 20-char fixed
    field shortens the COMMENT rather than clipping the value."""
    import pytest

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.fitscore.header import split_card

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            fw._card("BSCALE", bad)
    # 24-char repr + a comment: the value must survive verbatim
    v = -1.2345678901234567e-222
    card = fw._card("TDMIN1", v, "min of a very long column name here")
    assert len(card) == 80
    kw, val, _com = split_card(card.decode("ascii"))
    assert kw == "TDMIN1"
    assert float(val) == v
    # and with no comment at all
    kw2, val2, _ = split_card(fw._card("TDMAX1", v).decode("ascii"))
    assert float(val2) == v


def test_short_string_value():
    assert short_string_value("'NGC0000001'") == "NGC0000001"
    assert short_string_value("'padded    '") == "padded"
    assert short_string_value("'it''s'") == "it's"
    assert short_string_value("42") == "42"


# ---------- TFORM mapping (FitsSchemaTest ports) ----------

@pytest.mark.parametrize("tform,spark_name,width", [
    ("L", "boolean", 1), ("B", "byte", 1), ("I", "short", 2),
    ("J", "integer", 4), ("K", "long", 8), ("E", "float", 4),
    ("D", "double", 8), ("10A", "string", 10),
    ("1J", "integer", 4), ("1E", "float", 4), ("1K", "long", 8),
])
def test_tform_scalars(tform, spark_name, width):
    info = parse_tform(tform)
    assert info.spark_type.typeName() == spark_name
    assert info.byte_width == width
    assert not info.is_array


@pytest.mark.parametrize("tform,elem,width", [
    ("2E", "float", 8), ("3D", "double", 24), ("7K", "long", 56),
    ("3I", "short", 6), ("2J", "integer", 8),
])
def test_tform_arrays(tform, elem, width):
    info = parse_tform(tform)
    assert info.is_array
    assert info.spark_type.elementType.typeName() == elem
    assert info.byte_width == width


def test_tform_bit_and_unknown():
    x = parse_tform("16X")
    assert x.byte_width == 2 and x.spark_type.typeName() == "array"
    with pytest.warns(UserWarning):
        u = parse_tform("C")  # complex scalar: unsupported fallback
    assert u.byte_width == 0 and u.spark_type.typeName() == "string"
    # var-length descriptors are first-class (beyond-reference)
    p = parse_tform("1PJ(20)")
    assert p.is_varlen and p.byte_width == 8 and p.var_letter == "J"
    assert p.spark_type.simpleString() == "array<int>"
    q = parse_tform("QD(7)")
    assert q.is_varlen and q.byte_width == 16
    assert q.spark_type.simpleString() == "array<double>"
    pa_ = parse_tform("1PA(20)")
    assert pa_.spark_type.typeName() == "string"


# ---------- writer round-trip ----------

def test_writer_roundtrip(tmp_path):
    rng = np.random.RandomState(0)
    n = 1000
    cols = [
        ("target", "10A", np.array([f"NGC{i:07d}" for i in range(n)])),
        ("RA", "E", rng.uniform(0, 2 * np.pi, n).astype(">f4")),
        ("Dec", "D", rng.uniform(-np.pi / 2, np.pi / 2, n)),
        ("Index", "K", np.arange(n, dtype=">i8")),
        ("RunId", "J", np.ones(n, dtype=">i4")),
        ("Flag", "L", rng.rand(n) > 0.5),
        ("Vec", "3I", rng.randint(-100, 100, size=(n, 3)).astype(">i2")),
    ]
    path = str(tmp_path / "rt.fits")
    writer.write_fits(path, [writer.bintable_hdu(cols)])
    with open(path, "rb") as f:
        assert get_n_hdu(f) == 2
        hdu = open_hdu(f, path, 1)
        assert hdu.n_rows == n
        assert hdu.col_names == ("target", "RA", "Dec", "Index", "RunId", "Flag", "Vec")
        f.seek(hdu.boundaries.data_start)
        buf = f.read(hdu.boundaries.data_len)
    schema = pa.schema([
        ("target", pa.string()), ("RA", pa.float32()), ("Dec", pa.float64()),
        ("Index", pa.int64()), ("RunId", pa.int32()), ("Flag", pa.bool_()),
        ("Vec", pa.list_(pa.int16()))])
    batch = decode_bintable(buf, hdu, list(range(7)), schema)
    d = batch.to_pydict()
    assert d["target"][:3] == ["NGC0000000", "NGC0000001", "NGC0000002"]
    assert d["Index"] == list(range(n))
    np.testing.assert_allclose(d["Dec"], cols[2][2])
    assert d["Flag"] == list(cols[5][2])
    np.testing.assert_array_equal(np.array(d["Vec"]), cols[6][2].astype("i2"))


def test_writer_image_roundtrip(tmp_path):
    img = (np.arange(5 * 4 * 3).reshape(5, 4, 3) * 7 % 251).astype("f8")
    path = str(tmp_path / "im.fits")
    writer.write_fits(path, [writer.image_hdu(img)])
    with open(path, "rb") as f:
        hdu = open_hdu(f, path, 1)
        assert hdu.hdu_type == "image"
        assert hdu.naxis == (3, 4, 5)
        assert hdu.n_rows == 20
        f.seek(hdu.boundaries.data_start)
        buf = f.read(hdu.boundaries.data_len)
    schema = pa.schema([("Image", pa.list_(pa.float64())), ("ImgIndex", pa.int64())])
    batch = decode_image(buf, hdu, 0, schema)
    d = batch.to_pydict()
    np.testing.assert_array_equal(np.array(d["Image"]).reshape(5, 4, 3), img)
    assert d["ImgIndex"] == [i // 4 for i in range(20)]


def test_decode_partial_range_column_pruning():
    # decode a middle slice of rows with only 2 of 5 columns selected
    with open(f"{REF}/test_file.fits", "rb") as f:
        hdu = open_hdu(f, "x", 1)
        start = hdu.boundaries.data_start + 100 * hdu.row_bytes
        f.seek(start)
        buf = f.read(50 * hdu.row_bytes)
    schema = pa.schema([("target", pa.string()), ("Index", pa.int64())])
    batch = decode_bintable(buf, hdu, [0, 3], schema)
    d = batch.to_pydict()
    assert d["target"][0] == "NGC0000100"
    assert d["Index"] == list(range(100, 150))


# ---------- property-based round-trip (hypothesis) ----------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:
    _tform_elems = st.sampled_from(["I", "J", "K", "E", "D", "B", "L", "8A"])

    @settings(max_examples=25, deadline=None)
    @given(
        tforms=st.lists(_tform_elems, min_size=1, max_size=5),
        n_rows=st.integers(min_value=1, max_value=200),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_writer_reader_roundtrip_property(tforms, n_rows, seed):
        """Any schema × any row count: write with fitscore.writer, read
        back with open_hdu + decode_bintable, values identical."""
        import io

        import pyarrow as pa

        from spark_fits_spark.fitscore import writer
        from spark_fits_spark.fitscore.decode import decode_bintable
        from spark_fits_spark.fitscore.file import open_hdu

        rng = np.random.RandomState(seed)
        cols, expected = [], []
        for i, tf in enumerate(tforms):
            name = f"c{i}"
            if tf == "8A":
                vals = np.array(
                    [f"s{rng.randint(0, 10**6)}" for _ in range(n_rows)])
                expected.append(list(vals))
            elif tf == "L":
                vals = rng.randint(0, 2, n_rows).astype(bool)
                expected.append([bool(v) for v in vals])
            elif tf == "B":
                vals = rng.randint(-128, 128, n_rows).astype("i1")
                expected.append([int(v) for v in vals])
            elif tf in ("I", "J", "K"):
                dt = {"I": ">i2", "J": ">i4", "K": ">i8"}[tf]
                lim = {"I": 2**15, "J": 2**31, "K": 2**62}[tf]
                vals = rng.randint(-lim, lim, n_rows).astype(dt)
                expected.append([int(v) for v in vals])
            else:
                dt = ">f4" if tf == "E" else ">f8"
                vals = rng.randn(n_rows).astype(dt)
                expected.append([float(v) for v in vals])
            cols.append((name, tf, vals))

        raw = writer.primary_hdu() + writer.bintable_hdu(cols)
        fobj = io.BytesIO(raw)
        hdu = open_hdu(fobj, "<mem>", 1)
        assert hdu.n_rows == n_rows
        assert hdu.col_names == tuple(f"c{i}" for i in range(len(tforms)))

        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructField, StructType

        schema = StructType([
            StructField(n, parse_tform(t).spark_type) for n, t, _ in cols])
        fobj.seek(hdu.boundaries.data_start)
        buf = fobj.read(hdu.n_rows * hdu.row_bytes)
        batch = decode_bintable(
            buf, hdu, list(range(len(cols))), to_arrow_schema(schema))
        got = batch.to_pydict()
        for i, (name, tf, _) in enumerate(cols):
            g = got[name]
            if tf == "E":
                assert g == pytest.approx(expected[i], rel=1e-6)
            elif tf == "D":
                assert g == pytest.approx(expected[i])
            else:
                assert g == expected[i]

if _HAVE_HYP:
    _arr_tforms = st.sampled_from(
        ["E", "D", "J", "K", "3E", "4J", "2D", "5I", "8A", "L", "B"])

    @settings(max_examples=25, deadline=None)
    @given(
        tforms=st.lists(_arr_tforms, min_size=1, max_size=5),
        n_rows=st.integers(min_value=1, max_value=300),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        specials=st.booleans(),
    )
    def test_roundtrip_property_arrays_specials_slices(
            tforms, n_rows, seed, specials):
        """Interaction fuzz over the paths the scalar property test
        doesn't cross: fixed-size ARRAY columns (TFORM '3E'/'4J'/...),
        IEEE specials (NaN/±inf planted into float columns), a RANDOM
        row window (the partition read path: decode starts mid-table),
        and a RANDOM column selection (pruned numpy dtype) — all in one
        write→decode round trip. Exactness: floats compare by bit
        pattern (big-endian IEEE754 passthrough), ints/strings/bools
        exactly."""
        import io
        import math
        import re as _re

        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructField, StructType

        from spark_fits_spark.fitscore import writer
        from spark_fits_spark.fitscore.decode import decode_bintable
        from spark_fits_spark.fitscore.file import open_hdu
        from spark_fits_spark.fitscore.types import parse_tform

        rng = np.random.RandomState(seed)
        cols = []
        for i, tf in enumerate(tforms):
            m = _re.match(r"(\d*)([A-Z])", tf)
            rep, code = int(m.group(1) or 1), m.group(2)
            shape = (n_rows, rep) if (rep > 1 and code != "A") else n_rows
            if code == "A":
                vals = np.array(
                    [f"v{rng.randint(0, 10**6)}" for _ in range(n_rows)])
            elif code == "L":
                vals = rng.randint(0, 2, shape).astype(bool)
            elif code == "B":
                vals = rng.randint(-128, 128, shape).astype("i1")
            elif code in ("I", "J", "K"):
                dt = {"I": ">i2", "J": ">i4", "K": ">i8"}[code]
                lim = {"I": 2**15, "J": 2**31, "K": 2**62}[code]
                vals = rng.randint(-lim, lim, shape).astype(dt)
            else:
                dt = ">f4" if code == "E" else ">f8"
                vals = rng.randn(*(shape if isinstance(shape, tuple)
                                   else (shape,))).astype(dt)
                if specials and n_rows >= 3:
                    flat = vals.reshape(-1)
                    flat[0], flat[1], flat[2] = (
                        np.nan, np.inf, -np.inf)
            cols.append((f"c{i}", tf, vals))

        raw = writer.primary_hdu() + writer.bintable_hdu(cols)
        fobj = io.BytesIO(raw)
        hdu = open_hdu(fobj, "<mem>", 1)
        assert hdu.n_rows == n_rows

        # random row window + random column selection
        lo = int(rng.randint(0, n_rows))
        hi = int(rng.randint(lo + 1, n_rows + 1))
        sel = sorted(rng.choice(len(cols), size=rng.randint(
            1, len(cols) + 1), replace=False).tolist())
        schema = StructType([
            StructField(cols[j][0], parse_tform(cols[j][1]).spark_type)
            for j in sel])
        fobj.seek(hdu.boundaries.data_start + lo * hdu.row_bytes)
        buf = fobj.read((hi - lo) * hdu.row_bytes)
        got = decode_bintable(
            buf, hdu, sel, to_arrow_schema(schema)).to_pydict()

        def _eq(a, b):
            if isinstance(a, float):
                return (math.isnan(a) and math.isnan(b)) or a == b
            return a == b

        for j in sel:
            name, tf, vals = cols[j]
            window = vals[lo:hi]
            g = got[name]
            assert len(g) == hi - lo
            for r, (gv, ev) in enumerate(zip(g, window.tolist())):
                if isinstance(ev, list):
                    assert len(gv) == len(ev) and all(
                        _eq(x, y) for x, y in zip(gv, ev)), (name, lo + r)
                else:
                    assert _eq(gv, ev), (name, lo + r, gv, ev)


def test_card_long_string_rejected_loud():
    """A quoted string that cannot fit the 80-byte card used to be
    silently CLIPPED, leaving an unterminated quote that parse_cards
    then mis-read with a leading quote glued on (r6 find). Like
    non-finite floats, it now fails loud; 68 chars (the FITS limit)
    still round-trips exactly."""
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.fitscore.header import (
        parse_cards, short_string_value,
    )

    ok = fw._card("EXTNAME", "x" * 68)
    assert short_string_value(
        parse_cards([ok.decode()])["EXTNAME"]) == "x" * 68
    with pytest.raises(ValueError, match="68-char FITS card limit"):
        fw._card("EXTNAME", "x" * 69)
    # escaping counts against the budget: 35 quotes escape to 70 > 68
    with pytest.raises(ValueError, match="FITS card limit"):
        fw._card("EXTNAME", "'" * 35)


if _HAVE_HYP:
    _kw_st = st.from_regex(r"[A-Z][A-Z0-9_-]{0,7}", fullmatch=True)
    _sval_st = st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=68,
    ).filter(lambda s: (not s.endswith(" "))  # trailing blanks are
                                              # insignificant in FITS
             and len(s) + s.count("'") <= 68)
    _cmt_st = st.one_of(st.none(), st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=90).filter(lambda s: "'" not in s))

    @settings(max_examples=60, deadline=None)
    @given(kw=_kw_st,
           value=st.one_of(
               st.integers(-(2**63), 2**63 - 1),
               st.floats(allow_nan=False, allow_infinity=False),
               st.booleans(),
               _sval_st),
           comment=_cmt_st)
    def test_card_roundtrip_property(kw, value, comment):
        """Any writable card must parse back to the exact value
        through the same accessors the scan uses: short_string_value
        for strings, float()/int() for numerics, T/F for logicals —
        regardless of comment length (comments shorten/drop, values
        never clip)."""
        from spark_fits_spark.fitscore import writer as fw
        from spark_fits_spark.fitscore.header import (
            parse_cards, short_string_value,
        )

        card = fw._card(kw, value, comment)
        assert len(card) == 80
        raw = parse_cards([card.decode()])[kw]
        if isinstance(value, bool):
            assert raw == ("T" if value else "F")
        elif isinstance(value, int):
            assert int(raw) == value
        elif isinstance(value, float):
            assert float(raw) == value  # shortest-repr round trip
        else:
            # modulo outer blanks: the accessor is reference-parity
            # lossy there by design (FitsLib.scala:152-156 trims both
            # ends of the unquoted value; the FITS-standard-significant
            # leading blanks ARE preserved on the wire — the writer
            # emits them, parse_cards keeps them in raw — but cannot
            # come back through shortStringValue)
            assert short_string_value(raw) == value.strip()
            wire = "'" + value.replace("'", "''")
            assert raw.strip().startswith(wire.rstrip())


if _HAVE_HYP:
    @settings(max_examples=40, deadline=None)
    @given(
        n_rows=st.integers(min_value=0, max_value=300),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        flip_at=st.integers(min_value=0, max_value=10**9),
        flip_bit=st.integers(min_value=0, max_value=7),
    )
    def test_checksum_detects_any_single_bit_flip(n_rows, seed,
                                                  flip_at, flip_bit):
        """Detection-power property for the CHECKSUM/DATASUM layer:
        a freshly checksummed HDU verifies green, and flipping ANY
        single bit anywhere in it (header or data, position drawn by
        hypothesis) must turn at least one of (checksum_ok,
        datasum_ok) false. The ones'-complement sum has a classic
        blind spot class (0x00 <-> 0xFF swaps cancel in pairs), but a
        SINGLE bit flip always changes the sum — this pins that no
        encode/wraparound bug re-opens a hole."""
        from spark_fits_spark.fitscore.checksum import (
            apply_checksums, verify_hdu,
        )
        from spark_fits_spark.fitscore import writer as fw

        rng = np.random.RandomState(seed)
        cols = [("a", "K", rng.randint(-2**62, 2**62, n_rows)
                 .astype(">i8")),
                ("b", "E", rng.randn(n_rows).astype(">f4"))]
        hdu = apply_checksums(fw.bintable_hdu(cols, checksum=True))
        assert verify_hdu(hdu) == (True, True)

        flipped = bytearray(hdu)
        pos = flip_at % len(flipped)
        flipped[pos] ^= 1 << flip_bit
        ck, ds = verify_hdu(bytes(flipped))
        # a flip inside the data unit must break datasum AND checksum;
        # a flip inside the header must break checksum (datasum covers
        # data only, so it may stay true there). In no case may both
        # stay green.
        assert not (ck and ds), (
            f"single-bit flip at byte {pos} bit {flip_bit} of "
            f"{len(flipped)} went UNDETECTED (ck={ck}, ds={ds})")
