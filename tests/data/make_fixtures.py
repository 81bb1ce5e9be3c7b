"""Generate the FITS test fixtures under ``tests/data/``.

The tests port the reference suite's golden values (spark-fits v1.0.0,
``FitsLibTest`` / ``ReadFitsTest`` / ``packageTest``), which were taken
from the reference's fixture files. This script rebuilds those files
from the specs in FIXTURES.md: F1-F7 follow the reference generator
``create_test_fits.py`` (numpy ``RandomState(0)``, draws in its order);
F10 (``toTest/varitab.fits``) and F11 (``toTest/swift_events.fits``) are
synthetic stand-ins with the layout the tests read. The files reproduce
the reference's layouts and goldens, not its bytes.

The script is standalone on purpose: numpy plus the FITS 4.0 standard,
nothing from ``spark_fits_spark``. Were the fixtures written by the
package's own writer, reader and writer would only agree with each other
and the goldens (HDU boundaries 2880/5760/685760/688320, count 20000,
``sum(Index)`` 199990000, first row ``NGC0000000``) would check nothing.

Every draw is seeded, so the output is byte-for-byte stable;
``tests/test_fixtures.py`` regenerates it and compares it with the
committed files.

Usage::

    python tests/data/make_fixtures.py [OUTDIR]   # default: tests/data
"""

from __future__ import annotations

import os
import sys

import numpy as np

BLOCK = 2880
CARD = 80


# ---------- header cards and HDUs (FITS 4.0 §4, §7) ----------

def card(keyword: str, value=None, comment: str | None = None) -> bytes:
    """One 80-byte card in fixed format. ``value=None`` makes a
    commentary card (``COMMENT``/``HISTORY``/``END``) whose text is
    ``comment``."""
    if value is None:
        text = f"{keyword:<8}{comment or ''}"
    else:
        if isinstance(value, bool):
            v = f"{'T' if value else 'F':>20}"
        elif isinstance(value, int):
            v = f"{value:>20d}"
        else:
            escaped = value.replace("'", "''")
            v = f"'{escaped:<8}'"
        text = f"{keyword:<8}= {v}"
        if comment:
            text += f" / {comment}"
    if len(text) > CARD:
        raise ValueError(f"card {keyword!r} is {len(text)} chars: {text!r}")
    return text.ljust(CARD).encode("ascii")


def pad(raw: bytes, fill: bytes) -> bytes:
    return raw + fill * (-len(raw) % BLOCK)


def header(cards: list[bytes]) -> bytes:
    return pad(b"".join(cards) + card("END"), b" ")


def primary(extra: list[bytes] = ()) -> bytes:
    """Data-less primary HDU (``NAXIS=0``)."""
    return header([
        card("SIMPLE", True, "conforms to FITS standard"),
        card("BITPIX", 8, "array data type"),
        card("NAXIS", 0, "number of array dimensions"),
        card("EXTEND", True),
        *extra,
    ])


def strings(values, width: int) -> np.ndarray:
    """Fixed-width ``nA`` cells, space-padded."""
    return np.array([s.ljust(width) for s in values], dtype=f"S{width}")


def logicals(mask: np.ndarray) -> np.ndarray:
    """``L`` cells: ASCII ``T``/``F``."""
    return np.where(mask, b"T", b"F").astype("S1")


def bintable(columns, extra: list[bytes] = (), heap: bytes = b"",
             pad_cards_to: int = 0) -> bytes:
    """BINTABLE HDU. ``columns`` holds ``(name, tform, cells)`` or
    ``(name, tform, cells, {"TUNIT": ..., ...})``; ``cells`` has one
    big-endian entry (or row of entries) per table row. Per-column cards
    follow ``TTYPEn``/``TFORMn``; ``extra`` cards follow all columns.
    ``pad_cards_to`` appends COMMENT cards until the header holds that
    many cards before ``END``."""
    n_rows = len(columns[0][2])
    row = np.dtype([(f"c{i}", c[2].dtype, c[2].shape[1:])
                    for i, c in enumerate(columns)])
    table = np.empty(n_rows, dtype=row)
    for i, c in enumerate(columns):
        table[f"c{i}"] = c[2]
    cards = [
        card("XTENSION", "BINTABLE", "binary table extension"),
        card("BITPIX", 8, "array data type"),
        card("NAXIS", 2, "number of array dimensions"),
        card("NAXIS1", row.itemsize, "length of dimension 1"),
        card("NAXIS2", n_rows, "length of dimension 2"),
        card("PCOUNT", len(heap), "number of group parameters"),
        card("GCOUNT", 1, "number of groups"),
        card("TFIELDS", len(columns), "number of table fields"),
    ]
    for i, c in enumerate(columns, start=1):
        cards.append(card(f"TTYPE{i}", c[0]))
        cards.append(card(f"TFORM{i}", c[1]))
        for key, value in (c[3] if len(c) > 3 else {}).items():
            cards.append(card(f"{key}{i}", value))
    cards.extend(extra)
    while len(cards) < pad_cards_to:
        cards.append(card("COMMENT", comment=" header padding"))
    return header(cards) + pad(table.tobytes() + heap, b"\0")


# ---------- F1 - F6: create_test_fits.py layouts ----------

def ngc(n: int, width: int) -> np.ndarray:
    return strings([f"NGC{i:07d}" for i in range(n)], width)


def test_file() -> bytes:
    """F1: 3 HDUs, 20000 rows per table; one-block headers so HDU 1
    spans 2880/5760/685760/688320."""
    n = 20000
    rng = np.random.RandomState(0)
    hdu1 = [
        ("target", "10A", ngc(n, 10)),
        ("RA", "E", rng.uniform(0, 2 * np.pi, n).astype(">f4")),
        ("Dec", "D", rng.uniform(-np.pi / 2, np.pi / 2, n).astype(">f8")),
        ("Index", "K", np.arange(n, dtype=">i8")),
        ("RunId", "J", np.ones(n, dtype=">i4")),
    ]
    hdu2 = [
        ("target", "20A", ngc(n, 20)),
        ("Index", "1J",
         rng.randint(0, 10 * n, n, dtype=np.int64).astype(">i4")),
        ("Discovery", "L", logicals(rng.rand(n) > 0.5)),
    ]
    return primary() + bintable(hdu1) + bintable(hdu2)


def test_file_array() -> bytes:
    """F2: vector TFORMs, 100 rows per table."""
    n = 100
    rng = np.random.RandomState(0)
    hdu1 = [
        ("target", "10A", ngc(n, 10)),
        ("RA", "2E", rng.uniform(0, 2 * np.pi, (n, 2)).astype(">f4")),
        ("Dec", "3D",
         rng.uniform(-np.pi / 2, np.pi / 2, (n, 3)).astype(">f8")),
        ("Index", "7K", np.arange(7 * n, dtype=">i8").reshape(n, 7)),
        ("RunId", "I", np.ones(n, dtype=">i2")),
        ("RunIdArray", "3I", np.ones((n, 3), dtype=">i2")),
    ]
    hdu2 = [
        ("target", "20A", ngc(n, 20)),
        ("Index", "2J",
         rng.randint(0, 10 * n, (n, 2), dtype=np.int64).astype(">i4")),
        ("Discovery", "L", logicals(rng.rand(n) > 0.5)),
    ]
    return primary() + bintable(hdu1) + bintable(hdu2)


def test_file_one_element() -> bytes:
    """F3: one-element vectors (``1E`` etc.), 100 rows per table."""
    n = 100
    rng = np.random.RandomState(0)
    hdu1 = [
        ("target", "10A", ngc(n, 10)),
        ("RA", "1E", rng.uniform(0, 2 * np.pi, n).astype(">f4")),
        ("Dec", "1D", rng.uniform(-np.pi / 2, np.pi / 2, n).astype(">f8")),
        ("Index", "1K", np.arange(n, dtype=">i8")),
        ("RunId", "1I", np.ones(n, dtype=">i2")),
    ]
    hdu2 = [
        ("target", "20A", ngc(n, 20)),
        ("Index", "1J",
         rng.randint(0, 10 * n, n, dtype=np.int64).astype(">i4")),
        ("Discovery", "L", logicals(rng.rand(n) > 0.5)),
    ]
    return primary() + bintable(hdu1) + bintable(hdu2)


def test_file_ub() -> bytes:
    """F4: one unsigned-byte column whose name holds a space."""
    rng = np.random.RandomState(0)
    cells = rng.randint(0, 256, 20000, dtype=np.int64).astype("u1")
    return primary() + bintable([("unsigned bytes", "B", cells)])


def colnames_with_slash() -> bytes:
    """F5: quoted TTYPE values containing ``/``, 10 rows."""
    rng = np.random.RandomState(0)
    names = ["lsst/u_MEAN", "lsst/g_MEAN", "euclid/VIS_MEAN", "euclid/Y_MEAN"]
    return primary() + bintable([
        (name, "E", rng.uniform(18, 26, 10).astype(">f4")) for name in names])


#: F6 column cycle: TFORM -> (TUNIT, TDISP); 100 columns give 1052-byte rows
LONG_CYCLE = [("D", "deg", "D25.17"), ("D", "deg", "D25.17"),
              ("E", "mag", "E15.7"), ("K", "count", "I20"),
              ("J", "count", "I11"), ("32A", "none", "A32")]


def test_longheader_file() -> bytes:
    """F6: 100 rows x 100 columns with TTYPE/TFORM/TUNIT/TDISP each:
    8 + 400 cards + END = 409 cards (12 header blocks); rows are wider
    than 1024 B."""
    n = 100
    rng = np.random.RandomState(0)
    columns = []
    for i in range(100):
        tform, unit, disp = LONG_CYCLE[i % len(LONG_CYCLE)]
        if tform == "D":
            cells = rng.uniform(-90, 90, n).astype(">f8")
        elif tform == "E":
            cells = rng.uniform(15, 28, n).astype(">f4")
        elif tform == "K":
            cells = np.arange(n, dtype=">i8") + i * n
        elif tform == "J":
            cells = rng.randint(0, 1000, n, dtype=np.int64).astype(">i4")
        else:
            cells = strings([f"SRC{i:03d}_{r:05d}" for r in range(n)], 32)
        columns.append((f"COL{i:03d}", tform, cells,
                        {"TUNIT": unit, "TDISP": disp}))
    return primary() + bintable(columns)


# ---------- F7: ASCII table + 16-bit image cube ----------

#: (TTYPE, TFORM, TBCOL): one blank column between fields, 65-char rows
ASCII_COLUMNS = [
    ("IDENT", "A9", 1), ("Mag", "F6.2", 11), ("Channel", "I3", 18),
    ("Dist", "E10.4", 22), ("Mass", "D20.15", 33), ("Class", "A5", 54),
    ("Type", "A1", 60), ("Class_No", "I4", 62),
]
ASCII_ROW_CHARS = 65

#: synthetic rows; ``None`` in Mag is written as the null cell ``---.--``
ASCII_ROWS = [
    ("STAR00001", 6.32, 1, 12.5, 1.25, "MS", "A", 1),
    ("STAR00002", 7.05, 2, 48.25, 0.85, "GIANT", "B", 2),
    ("STAR00003", 11.9, 3, 102.0, 2.5, "MS", "A", 1),
    ("STAR00004", None, 4, 7.75, 0.5, "DWARF", "C", 3),
    ("STAR00005", 9.41, 5, 333.3, 12.0, "GIANT", "B", 2),
    ("STAR00006", 13.87, 6, 1.5, 0.08, "DWARF", "C", 3),
    ("STAR00007", 5.5, 7, 980.0, 30.125, "SGNT", "D", 4),
    ("STAR00008", 8.0, 8, 65.4321, 1.0, "MS", "A", 1),
    ("STAR00009", 10.76, 9, 250.0, 3.75, "GIANT", "B", 2),
    ("STAR00010", 12.34, 10, 4.2, 0.25, "DWARF", "C", 3),
]


def fortran_exp(value: float, width: int, digits: int, letter: str) -> str:
    """Fortran ``Ew.d``/``Dw.d`` output, ``0.ddddE+xx``; the leading
    zero is dropped when the field would otherwise overflow."""
    mant, exp = f"{value:.{digits - 1}E}".split("E")
    sign = "-" if value < 0 else ""
    text = f"{sign}0.{mant.lstrip('-').replace('.', '')}{letter}{int(exp) + 1:+03d}"
    if len(text) > width:
        text = text.replace("0.", ".", 1)
    return text.rjust(width)


def ascii_cell(tform: str, value) -> str:
    code, width = tform[0], int(tform[1:].split(".")[0])
    if code == "A":
        return value.ljust(width)
    if code == "I":
        return f"{value:>{width}d}"
    decimals = int(tform.split(".")[1])
    if code == "F" and value is None:  # null cell, e.g. ---.--
        return "-" * (width - decimals - 1) + "." + "-" * decimals
    if code == "F":
        return f"{value:>{width}.{decimals}f}"
    return fortran_exp(value, width, decimals, code)


def ascii_table() -> bytes:
    lines = []
    for values in ASCII_ROWS:
        line = [" "] * ASCII_ROW_CHARS
        for (_name, tform, tbcol), value in zip(ASCII_COLUMNS, values):
            cell = ascii_cell(tform, value)
            line[tbcol - 1:tbcol - 1 + len(cell)] = cell
        lines.append("".join(line))
    cards = [
        card("XTENSION", "TABLE", "ASCII table extension"),
        card("BITPIX", 8, "array data type"),
        card("NAXIS", 2, "number of array dimensions"),
        card("NAXIS1", ASCII_ROW_CHARS, "length of dimension 1"),
        card("NAXIS2", len(lines), "length of dimension 2"),
        card("PCOUNT", 0, "number of group parameters"),
        card("GCOUNT", 1, "number of groups"),
        card("TFIELDS", len(ASCII_COLUMNS), "number of table fields"),
    ]
    for i, (name, tform, tbcol) in enumerate(ASCII_COLUMNS, start=1):
        cards += [card(f"TTYPE{i}", name), card(f"TBCOL{i}", tbcol),
                  card(f"TFORM{i}", tform)]
    return header(cards) + pad("".join(lines).encode("ascii"), b" ")


def image(cube: np.ndarray) -> bytes:
    """IMAGE extension; ``cube`` is big-endian, C order (NAXIS1 last)."""
    cards = [
        card("XTENSION", "IMAGE", "image extension"),
        card("BITPIX", cube.dtype.itemsize * 8, "array data type"),
        card("NAXIS", cube.ndim, "number of array dimensions"),
    ]
    for i, n in enumerate(reversed(cube.shape), start=1):
        cards.append(card(f"NAXIS{i}", n))
    cards += [card("PCOUNT", 0, "number of parameters"),
              card("GCOUNT", 1, "number of groups")]
    return header(cards) + pad(cube.tobytes(), b"\0")


def tst0009() -> bytes:
    """F7: HDU 1 ASCII TABLE (8 columns), HDU 2 73x31x5 BITPIX=16 cube."""
    rng = np.random.RandomState(0)
    cube = rng.randint(0, 1000, (5, 31, 73), dtype=np.int64).astype(">i2")
    return primary() + ascii_table() + image(cube)


# ---------- F10 / F11: synthetic stand-ins ----------

#: F10 columns: TFORM letter t of ``1Pt(20)`` -> big-endian element dtype
VARITAB_LETTERS = "ALXBIJEDCM"
VARITAB_ELEMENT = {"B": "u1", "I": ">i2", "J": ">i4", "E": ">f4", "D": ">f8",
                   "C": ">f4", "M": ">f8"}


def varitab_cells(rng, letter: str, count: int) -> bytes:
    """Heap bytes of one variable-length cell of ``count`` elements."""
    if letter == "A":
        return rng.randint(65, 91, count, dtype=np.int64).astype("u1").tobytes()
    if letter == "L":
        return logicals(rng.rand(count) > 0.5).tobytes()
    if letter == "X":  # count is in bits
        nbytes = (count + 7) // 8
        return rng.randint(0, 256, nbytes, dtype=np.int64).astype("u1").tobytes()
    dtype = VARITAB_ELEMENT[letter]
    if letter in "BIJ":
        info = np.iinfo(np.dtype(dtype))
        return rng.randint(info.min, int(info.max) + 1, count,
                           dtype=np.int64).astype(dtype).tobytes()
    values = rng.normal(0, 100, 2 * count if letter in "CM" else count)
    if letter in "ED" and count:
        values[::4] = np.nan
    return values.astype(dtype).tobytes()


def varitab() -> bytes:
    """F10: ten ``1Pt(20)`` columns (80-byte rows), 20 rows whose
    element counts vary per cell; row 7 is empty and every fourth E/D
    element is NaN. The extension header is padded to five blocks so the
    table starts at byte 17280, the original file's layout."""
    n_rows = 20
    rng = np.random.RandomState(0)
    descriptors = np.zeros((n_rows, len(VARITAB_LETTERS), 2), dtype=">i4")
    heap = bytearray()
    for r in range(n_rows):
        for c, letter in enumerate(VARITAB_LETTERS):
            count = 0 if r == 7 else 1 + (3 * r + 7 * c) % 20
            descriptors[r, c] = (count, len(heap))
            heap += varitab_cells(rng, letter, count)
    columns = [(f"{t}value", f"1P{t}(20)", descriptors[:, c])
               for c, t in enumerate(VARITAB_LETTERS)]
    return primary() + bintable(columns, heap=bytes(heap), pad_cards_to=150)


def swift_events() -> bytes:
    """F11: a Swift-XRT-like event file: primary with commented cards,
    EVENTS (50000 rows), GTI (3 rows), BADPIX (4 rows)."""
    rng = np.random.RandomState(0)
    head = primary([
        card("TELESCOP", "SWIFT", "mission name"),
        card("INSTRUME", "XRT", "instrument name"),
        card("OBJECT", "SYNTHETIC", "synthetic stand-in, not sky data"),
        card("ORIGIN", "make_fixtures.py", "generator of this file"),
    ])
    n = 50000
    time = 2.5e8 + np.cumsum(rng.exponential(0.05, n))
    events = bintable([
        ("TIME", "1D", time.astype(">f8"), {"TUNIT": "s"}),
        ("X", "1I", rng.randint(1, 1000, n, dtype=np.int64).astype(">i2"),
         {"TUNIT": "pixel"}),
        ("Y", "1I", rng.randint(1, 1000, n, dtype=np.int64).astype(">i2"),
         {"TUNIT": "pixel"}),
        ("PI", "1I", rng.randint(0, 1024, n, dtype=np.int64).astype(">i2"),
         {"TUNIT": "chan"}),
    ], [card("EXTNAME", "EVENTS", "name of this binary table extension"),
        card("HDUCLASS", "OGIP", "format conforms to OGIP standard")])
    edges = np.linspace(time[0], time[-1], 7)
    gti = bintable([
        ("START", "1D", edges[0::2][:3].astype(">f8"), {"TUNIT": "s"}),
        ("STOP", "1D", edges[1::2][:3].astype(">f8"), {"TUNIT": "s"}),
    ], [card("EXTNAME", "GTI", "name of this binary table extension")])
    badpix = bintable([
        ("RAWX", "1I", np.array([12, 250, 301, 587], dtype=">i2")),
        ("RAWY", "1I", np.array([40, 7, 300, 512], dtype=">i2")),
        ("YEXTENT", "1I", np.array([1, 600, 1, 3], dtype=">i2")),
        ("TYPE", "1I", np.array([1, 2, 1, 4], dtype=">i2")),
    ], [card("EXTNAME", "BADPIX", "name of this binary table extension")])
    return head + events + gti + badpix


#: relative path -> builder
FIXTURES = {
    "test_file.fits": test_file,
    "test_file_array.fits": test_file_array,
    "test_file_one-element.fits": test_file_one_element,
    "test_file_ub.fits": test_file_ub,
    "colnames_with_slash.fits": colnames_with_slash,
    "test_longheader_file.fits": test_longheader_file,
    "toTest/tst0009.fits": tst0009,
    "toTest/varitab.fits": varitab,
    "toTest/swift_events.fits": swift_events,
}


def build(outdir: str) -> list[str]:
    """Write every fixture under ``outdir``; return the written paths."""
    written = []
    for rel, make in FIXTURES.items():
        path = os.path.join(outdir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(make())
        written.append(path)
    return written


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    for p in build(sys.argv[1] if len(sys.argv) > 1 else here):
        print(p, os.path.getsize(p))
