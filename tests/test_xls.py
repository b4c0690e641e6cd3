"""Legacy .xls (CFB + BIFF8) reader — round 12, the last
reference-surface gap (reference etl/order_info_etl.py:177 accepts
``xls`` alongside ``xlsx``)."""

import struct

import pytest

from sales_analytics_etl_sql_powerbi_spark.sources import xls
from sales_analytics_etl_sql_powerbi_spark.sources.xls import (
    read_xls_table,
    write_minimal_xls,
)


def test_xls_roundtrip_all_cell_types(tmp_path):
    """Strings (SST), RK ints (incl. negative and the 30-bit extremes),
    IEEE doubles, booleans, Nones, unicode — every value back as the
    documented raw string."""
    headers = ["order id", "Qty", "Price", "State", "ok"]
    rows = [
        [1, 3, 19.5, "fl ", True],
        [2, -4, 3.0, "Ca", False],
        [3, None, 2.25, "ünïcødé ☃", None],
        [4, 2**29 - 1, -1.5, "x" * 40, True],
        [5, -(2**29), 1e300, "", False],
        # astral-plane text: cch counts UTF-16 CODE UNITS, not chars
        # (the hypothesis property test caught len(str) under-counting)
        [6, 7, 0.5, "𐀀ok🎉", None],
    ]
    p = str(tmp_path / "t.xls")
    write_minimal_xls(p, headers, rows)
    h, r = read_xls_table(p)
    assert h == headers
    assert r == [
        ["1", "3", "19.5", "fl ", "TRUE"],
        ["2", "-4", "3.0", "Ca", "FALSE"],
        ["3", None, "2.25", "ünïcødé ☃", None],
        ["4", str(2**29 - 1), "-1.5", "x" * 40, "TRUE"],
        ["5", str(-(2**29)), "1e+300", "", "FALSE"],
        ["6", "7", "0.5", "𐀀ok🎉", None],
    ]


def test_xls_xlsx_parity_same_table(tmp_path):
    """The SAME table written to both containers parses identically —
    the dispatch contract a mixed landing zone relies on."""
    from sales_analytics_etl_sql_powerbi_spark.sources.xlsx import (
        read_xlsx_table,
        write_minimal_xlsx,
    )

    headers = ["A", "B", "C"]
    rows = [[1, "x&<y>", 2.5], [7, None, 3.0], [9, "z", -1]]
    p1 = str(tmp_path / "p.xls")
    p2 = str(tmp_path / "p.xlsx")
    write_minimal_xls(p1, headers, rows)
    write_minimal_xlsx(p2, headers, rows)
    assert read_xls_table(p1) == read_xlsx_table(p2)


def test_xls_sst_continue_at_string_boundaries(tmp_path):
    """An SST bigger than one record splits into CONTINUEs; every
    string survives."""
    rows = [[i, f"unique-string-{i}-" + "pad" * 50] for i in range(2000)]
    p = str(tmp_path / "big.xls")
    write_minimal_xls(p, ["id", "name"], rows)
    h, r = read_xls_table(p)
    assert len(r) == 2000
    assert r[1234] == ["1234", "unique-string-1234-" + "pad" * 50]


def test_xls_sst_mid_string_split_both_widths(tmp_path):
    """A single string longer than one record splits MID-STRING: the
    continuation re-leads with a flags byte, for both compressed and
    UTF-16 character data."""
    giant = "G" + "abcdefghij" * 1200  # 12001 chars, > 8224-byte record
    p = str(tmp_path / "g1.xls")
    write_minimal_xls(p, ["h"], [[giant]])
    assert read_xls_table(p)[1][0][0] == giant

    giant_u = "ünïcødé☃" * 2000
    p2 = str(tmp_path / "g2.xls")
    write_minimal_xls(p2, ["h"], [[giant_u]])
    assert read_xls_table(p2)[1][0][0] == giant_u


def test_xls_sst_cursor_spec_edges():
    """Hand-built SST chunks for the splits the writer avoids but the
    spec allows: character data starting exactly at a CONTINUE, and a
    compression flip across the split."""
    s = "hello"
    chunk1 = struct.pack("<II", 1, 1) + struct.pack("<HB", len(s), 0)
    chunk2 = bytes([0]) + s.encode("latin-1")
    assert xls._parse_sst([chunk1, chunk2]) == [s]

    chunk1 = struct.pack("<II", 1, 1) + struct.pack("<HB", 6, 0) + b"abc"
    chunk2 = bytes([1]) + "déf".encode("utf-16-le")
    assert xls._parse_sst([chunk1, chunk2]) == ["abcdéf"]


def test_xls_ministream_and_regular_fat_paths(tmp_path):
    """Workbooks under the 4096-byte cutoff live in the mini-stream;
    past it they chain in the regular FAT — both read back, across
    the boundary."""
    import os

    for n in (2, 40, 200, 2000):
        p = str(tmp_path / f"n{n}.xls")
        write_minimal_xls(p, ["a", "b"], [[i, f"v{i}"] for i in range(n)])
        _, r = read_xls_table(p)
        assert len(r) == n and r[-1] == [str(n - 1), f"v{n-1}"]
        assert os.path.getsize(p) % 512 == 0  # whole sectors


def test_xls_sheet_selection(tmp_path):
    p = str(tmp_path / "s.xls")
    write_minimal_xls(p, ["K"], [["v"]], sheet_name="Export")
    assert read_xls_table(p, sheet="Export")[1] == [["v"]]
    assert read_xls_table(p, sheet=0)[1] == [["v"]]
    with pytest.raises(ValueError, match="not found"):
        read_xls_table(p, sheet="Missing")
    with pytest.raises(ValueError, match="out of range"):
        read_xls_table(p, sheet=3)


def test_xls_reject_contract(tmp_path):
    """Rejects rather than misparses: bad magic, truncation, missing
    Workbook stream, non-BIFF8 versions."""
    p = str(tmp_path / "ok.xls")
    write_minimal_xls(p, ["a"], [[1]])
    data = open(p, "rb").read()

    with pytest.raises(ValueError, match="magic"):
        read_xls_table(b"PK\x03\x04" + data[4:])
    with pytest.raises(ValueError, match="magic"):
        read_xls_table(b"")
    # truncated container: FAT/dir sector references run off the end
    with pytest.raises(ValueError):
        read_xls_table(data[:600])
    # BIFF5 BOF version must reject, not misparse
    wb_magic = struct.pack("<HH", 0x0809, 16) + struct.pack("<H", 0x0600)
    assert wb_magic[:6] in data
    biff5 = data.replace(
        struct.pack("<HH", 0x0809, 16) + struct.pack("<H", 0x0600),
        struct.pack("<HH", 0x0809, 16) + struct.pack("<H", 0x0500),
        1,
    )
    with pytest.raises(ValueError, match="BIFF8"):
        read_xls_table(biff5)


def test_xls_through_read_excel_and_dispatch(spark, tmp_path):
    """The driver-side shim and the extension dispatch route .xls
    through the BIFF8 parser with normalized headers — same contract
    as .xlsx."""
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import (
        read_excel,
        read_input,
    )

    p = str(tmp_path / "orders.xls")
    write_minimal_xls(
        p,
        ["Order No", "goodsNumber", "Notes"],
        [["A1", 3, "first & <escaped>"], ["A2", 4.5, None]],
    )
    df = read_excel(spark, p)
    assert df.columns == ["Order_No", "goodsNumber", "Notes"]
    rows = df.collect()
    assert [r.goodsNumber for r in rows] == ["3", "4.5"]
    assert rows[1].Notes is None
    assert read_input(spark, p).count() == 2


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=30),
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(_cell, min_size=1, max_size=6), min_size=1, max_size=12
    )
)
def test_xls_roundtrip_property(tmp_path, rows):
    """For ANY table of Nones/bools/ints/floats/unicode text (ragged
    rows included), the write→read round trip renders every cell by
    the documented convention: None→None, bool→TRUE/FALSE, RK-range
    int→str(int), anything else numeric→str(float), text verbatim;
    short rows pad with None."""
    width = max(len(r) for r in rows)
    headers = [f"h{i}" for i in range(width)]
    p = str(tmp_path / "prop.xls")
    write_minimal_xls(p, headers, rows)
    h, got = read_xls_table(p)
    assert h == headers

    def render(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int) and -(2**29) <= v < 2**29:
            return str(v)
        if isinstance(v, (int, float)):
            return str(float(v))
        return str(v)

    want = [
        [render(v) for v in row] + [None] * (width - len(row))
        for row in rows
    ]
    # a row with no cell records does not exist in a BIFF sheet, so
    # trailing all-None rows vanish (real-Excel semantics); interior
    # empty rows survive as all-None because later rows pin the grid
    while want and all(v is None for v in want[-1]):
        want.pop()
    assert got == want


def test_inline_string_rich_and_ext_flags():
    """BIFF8 LABEL carries an XLUnicodeRichExtendedString: when the
    rich (0x08) / ext (0x04) flag bits are set, the rcRun / cbExtRst
    count fields sit BETWEEN the flags byte and the characters — they
    must be skipped, never decoded as characters (ADVICE r12)."""
    from sales_analytics_etl_sql_powerbi_spark.sources.xls import (
        _inline_string,
    )

    text = b"hello"
    # plain (no optional fields)
    assert _inline_string(struct.pack("<HB", 5, 0x00) + text, 0) == "hello"
    # rich: 2-byte rcRun before chars, 4*rcRun run bytes after
    rich = struct.pack("<HB", 5, 0x08) + struct.pack("<H", 2) + text + b"\x00" * 8
    assert _inline_string(rich, 0) == "hello"
    # ext: 4-byte cbExtRst before chars, blob after
    ext = struct.pack("<HB", 5, 0x04) + struct.pack("<I", 3) + text + b"\x00" * 3
    assert _inline_string(ext, 0) == "hello"
    # rich + ext together, utf-16 chars
    u = "héllo".encode("utf-16-le")
    both = (
        struct.pack("<HB", 5, 0x0D)
        + struct.pack("<H", 1)
        + struct.pack("<I", 2)
        + u
        + b"\x00" * 6
    )
    assert _inline_string(both, 0) == "héllo"
    # unknown flag bits reject, never misparse
    with pytest.raises(ValueError, match="string flags"):
        _inline_string(struct.pack("<HB", 5, 0x20) + text, 0)


def test_rk_integer_rendering_divergence():
    """Pinned divergence from the reference's xlrd path (ADVICE r12):
    ``pd.read_excel(dtype=str)`` via xlrd floats ALL .xls numerics
    ('3.0'); this engine renders RK-range integers as '3' so the same
    workbook content reads identically through .xls and .xlsx (the
    mixed-fleet dispatch contract — see _rk_value docstring).
    Downstream int coercion accepts both forms."""
    from sales_analytics_etl_sql_powerbi_spark.sources.xls import _rk_value

    # 30-bit int, no div-100: engine says '3'; xlrd convention is '3.0'
    assert _rk_value((3 << 2) | 0x02) == "3"
    xlrd_convention = str(float(3))
    assert xlrd_convention == "3.0" and xlrd_convention != _rk_value((3 << 2) | 0x02)
    # div-100 ints and IEEE RKs are floats either way
    assert _rk_value((350 << 2) | 0x03) == "3.5"


def test_write_string_biff8_cap():
    """Writer rejects >32767 UTF-16 code units (the BIFF8 cch cap) —
    not the old 65535 guard that let out-of-spec fixtures through."""
    from sales_analytics_etl_sql_powerbi_spark.sources.xls import (
        _write_string,
    )

    _write_string("x" * 32767)  # at the cap: fine
    with pytest.raises(ValueError, match="32767"):
        _write_string("x" * 32768)


def test_rich_label_through_real_workbook(tmp_path):
    """End-to-end: a BIFF8 LABEL record carrying an
    XLUnicodeRichExtendedString (rich runs + ExtRst) inside a REAL CFB
    container must decode to its text through the full reader —
    container walk, record dispatch, and the rich/ext field skips
    (ADVICE r12, beyond the payload-level unit test)."""
    from sales_analytics_etl_sql_powerbi_spark.sources.xls import (
        _BOF,
        _BOUNDSHEET,
        _EOF,
        _LABEL,
        _cfb_container,
        _rec,
        _sst_records,
    )

    def label(rno, cno, text, grbit, pre, post):
        enc = text.encode("latin-1")
        body = (
            struct.pack("<HHH", rno, cno, 15)
            + struct.pack("<HB", len(enc), grbit)
            + pre
            + enc
            + post
        )
        return _rec(_LABEL, body)

    cells = bytearray()
    # header row: plain LABEL
    cells += label(0, 0, "h", 0x00, b"", b"")
    # rich: 2 formatting runs (4 bytes each, trailing)
    cells += label(1, 0, "rich", 0x08, struct.pack("<H", 2), b"\x00" * 8)
    # ext: 6-byte ExtRst blob
    cells += label(2, 0, "ext", 0x04, struct.pack("<I", 6), b"\x00" * 6)
    # rich + ext together
    cells += label(
        3, 0, "both", 0x0C, struct.pack("<H", 1) + struct.pack("<I", 2),
        b"\x00" * 6,
    )

    sheet = (
        _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + bytes(cells)
        + _rec(_EOF, b"")
    )
    name = b"S"
    globals_len = 4 + 16 + 4 + (4 + 2 + 1 + 1 + len(name)) + len(
        _sst_records([])
    ) + 4
    wb = (
        _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
        + _rec(
            _BOUNDSHEET,
            struct.pack("<IHBB", globals_len, 0, len(name), 0) + name,
        )
        + _sst_records([])
        + _rec(_EOF, b"")
        + sheet
    )
    p = str(tmp_path / "rich.xls")
    with open(p, "wb") as f:
        f.write(_cfb_container({"Workbook": wb}))
    h, r = read_xls_table(p)
    assert h == ["h"]
    assert r == [["rich"], ["ext"], ["both"]]
