"""Real S6-S8 Office extraction (operators/office.py): faithful ports
of the reference's extraction rules (office_comparer_batch.py) over
stdlib-built OOXML packages, plus the Spark mapInPandas surface."""

from __future__ import annotations

import pytest

from mediaduplicatefinder_spark.operators.office import (
    detect_office_kind,
    extract_docx_text,
    extract_pptx_text,
    extract_xlsx_cells,
    make_docx,
    make_pptx,
    make_xlsx,
)


# ------------------------------------------------------------- docx


def test_docx_paragraph_join_and_strip():
    # reference: text += paragraph.text + "\n" ... .strip()
    assert extract_docx_text(make_docx(["a", "b"])) == "a\nb"
    # leading/trailing whitespace of the whole doc is stripped, interior
    # paragraph whitespace survives (xml:space="preserve")
    assert extract_docx_text(make_docx(["  x  ", " "])) == "x"
    assert extract_docx_text(make_docx(["", "mid", ""])) == "mid"


def test_docx_tables_after_paragraphs():
    # reference appends ALL table cells (+" ") after ALL paragraphs
    d = make_docx(["p1"], tables=[[["a", "b"], ["c", "d"]], [["e"]]])
    assert extract_docx_text(d) == "p1\na b c d e"


def test_docx_xml_escaping_roundtrip():
    texts = ["a & b < c > d", "quote \" and ' fine", "uni é中"]
    assert extract_docx_text(make_docx(texts)) == "\n".join(texts)


def test_docx_invalid_tolerance():
    assert extract_docx_text(b"not a zip") is None
    assert extract_docx_text(b"PK\x03\x04 truncated") is None


# ------------------------------------------------------------- xlsx


def test_xlsx_cells_positions_gaps_empty_rows():
    x = make_xlsx(
        {
            "s1": [["a", None, "c"], [None], ["d"]],
            "s2": [[10]],
        }
    )
    cells = extract_xlsx_cells(x)
    assert ("s1", 1, 1, "a") in cells
    assert ("s1", 1, 3, "c") in cells  # gap preserved via A1 refs
    assert ("s1", 3, 1, "d") in cells
    assert not any(s == "s1" and r == 2 for s, r, c, v in cells)
    assert ("s2", 1, 1, "10") in cells


def test_xlsx_numeric_str_rendering():
    # reference compares str(val): ints render without .0
    x = make_xlsx({"n": [[3, 3.5, 3.0]]})
    vals = {c: v for s, r, c, v in extract_xlsx_cells(x)}
    assert vals == {1: "3", 2: "3.5", 3: "3"}


def test_xlsx_shared_string_dedup_and_escape():
    x = make_xlsx({"s": [["dup & <x>", "dup & <x>", "other"]]})
    cells = extract_xlsx_cells(x)
    assert [v for _, _, _, v in sorted(cells)] == [
        "dup & <x>",
        "dup & <x>",
        "other",
    ]


def test_xlsx_invalid_tolerance():
    assert extract_xlsx_cells(b"junk") is None


def test_xlsx_malformed_sheet_tolerance():
    """Valid zip, malformed cell data: the reference wraps the ENTIRE
    load in try/except and returns None — an out-of-range sharedStrings
    index or a non-integer <v> must degrade per-file, not fail the
    task (office_comparer_batch.py:26-54 per-file tolerance)."""
    good = make_xlsx({"s": [["hello", "world"]]})

    def corrupt(data: bytes, old: bytes, new: bytes) -> bytes:
        import io
        import zipfile

        src = zipfile.ZipFile(io.BytesIO(data))
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as out:
            for n in src.namelist():
                b = src.read(n)
                if n == "xl/worksheets/sheet1.xml":
                    assert old in b
                    b = b.replace(old, new)
                out.writestr(n, b)
        return buf.getvalue()

    # shared-string index out of range -> IndexError inside the loop
    oob = corrupt(good, b"<v>0</v>", b"<v>99</v>")
    assert extract_xlsx_cells(oob) is None
    # non-integer shared-string ref -> ValueError inside the loop
    bad_int = corrupt(good, b"<v>0</v>", b"<v>zero</v>")
    assert extract_xlsx_cells(bad_int) is None


# ------------------------------------------------------------- pptx


def test_pptx_shape_join():
    # reference: text += shape.text + " " ... .strip(); shape.text joins
    # its paragraphs with "\n"
    p = make_pptx([["s1a", "l1\nl2"], ["s2"]])
    assert extract_pptx_text(p) == "s1a l1\nl2 s2"


def test_pptx_slide_numeric_order():
    # slide10 must sort after slide2 (numeric, not lexicographic)
    slides = [[f"t{i}"] for i in range(1, 12)]
    p = make_pptx(slides)
    assert extract_pptx_text(p) == " ".join(f"t{i}" for i in range(1, 12))


# -------------------------------------------------------- dispatch


def test_detect_kind():
    assert detect_office_kind(make_docx(["x"])) == "docx"
    assert detect_office_kind(make_xlsx({"s": [["x"]]})) == "xlsx"
    assert detect_office_kind(make_pptx([["x"]])) == "pptx"
    assert detect_office_kind(b"\x89PNG....") is None


def test_deterministic_bytes():
    # fixed zip timestamps: identical input -> identical package bytes
    assert make_docx(["a", "b"]) == make_docx(["a", "b"])
    assert make_xlsx({"s": [["a", 1]]}) == make_xlsx({"s": [["a", 1]]})


@pytest.mark.parametrize(
    "bad",
    ["\ufffe", "\uffff", "\x00", "\x1f", "\ud800"],
    ids=["U+FFFE", "U+FFFF", "U+0000", "U+001F", "U+D800"],
)
def test_writers_reject_non_xml_chars(bad):
    # XML 1.0 forbids these code points; written raw they leave a part
    # that no reader can parse (the extractors return None), so every
    # writer refuses them instead of emitting a corrupt package
    for make in (
        lambda: make_docx([f"a{bad}b"]),
        lambda: make_docx(["ok"], [[[bad]]]),
        lambda: make_xlsx({"s": [["ok", bad]]}),
        lambda: make_xlsx({bad: [["ok"]]}),
        lambda: make_pptx([[f"ok\n{bad}"]]),
    ):
        with pytest.raises(ValueError, match="XML 1.0"):
            make()


# ---------------------------------------------------- Spark surface


def test_spark_office_operators(spark):
    from mediaduplicatefinder_spark.operators.office import (
        extract_office_text,
        xlsx_cells,
    )

    rows = [
        (1, bytearray(make_docx(["hello", "world"]))),
        (2, bytearray(make_pptx([["slide one"], ["two"]]))),
        (3, bytearray(make_xlsx({"data": [["a", "b"]]}))),
        (4, bytearray(b"not ooxml")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    texts = {r.doc_id: r for r in extract_office_text(df).collect()}
    assert texts[1].office_kind == "docx" and texts[1].text == "hello\nworld"
    assert texts[2].office_kind == "pptx" and texts[2].text == "slide one two"
    assert texts[3].office_kind == "xlsx" and texts[3].valid
    assert texts[4].office_kind == "unknown" and not texts[4].valid

    cells = {
        (r.doc_id, r.sheet, r.row_idx, r.col_idx): r.value
        for r in xlsx_cells(df).collect()
    }
    assert cells == {(3, "data", 1, 1): "a", (3, "data", 1, 2): "b"}
