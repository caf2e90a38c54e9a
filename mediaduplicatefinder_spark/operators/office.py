"""Real Office (docx/xlsx/pptx) binary extraction — stdlib only.

The reference extracts Office text with python-docx / openpyxl /
python-pptx (office_comparer_batch.py:12-54, 127-138). Those libraries
are not in this container, but OOXML is just ZIP + XML, both stdlib —
so S6–S8 are implemented here for real against the public OOXML spec
(ECMA-376), upgrading them from the round-2 "webtext analog" mapping.

Faithful extraction semantics (ported decision logic, not code):

- docx  (extract_word_text, office_comparer_batch.py:12-24):
  body-level paragraph texts each followed by "\\n", then every table
  cell's text followed by " ", then ``str.strip()``. Cell text joins the
  cell's paragraphs with "\\n" (python-docx ``cell.text``). Runs
  concatenate ``w:t`` text; ``w:tab`` -> "\\t", ``w:br``/``w:cr`` ->
  "\\n" (python-docx ``paragraph.text``).
- xlsx  (load_excel_fast, office_comparer_batch.py:26-54):
  sheet_name -> rows of cell values, completely-empty rows skipped.
  Shared strings, inline strings, and numeric cells supported; numbers
  render like Python ``str()`` (int when integral) because the
  reference compares ``str(val1) == str(val2)``
  (office_comparer_batch.py:122-123).
- pptx  (extract_powerpoint_text, office_comparer_batch.py:127-138):
  every shape's text (its ``a:p`` paragraphs joined with "\\n")
  followed by " ", then ``str.strip()``.

Writers (make_docx / make_xlsx / make_pptx) produce minimal
deterministic OOXML packages (fixed zip timestamps) — used by datagen
and the round-trip oracle queries; make_xlsx writes via sharedStrings
so the reader's shared-string path is exercised, plus one numeric
sheet. Text outside XML 1.0's ``Char`` production (C0 controls other
than tab/LF/CR, lone surrogates, U+FFFE, U+FFFF) raises ``ValueError``:
written raw it would make the part unparseable.

Spark surface: ``extract_office_text`` and ``extract_xlsx_cells`` are
Arrow-batched ``mapInPandas`` operators — binary payloads never leave
the executor, only extracted text / cells shuffle.
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import DataFrame

_ZDATE = (1980, 1, 1, 0, 0, 0)


def _tag(el) -> str:
    """Local name without namespace."""
    t = el.tag
    return t.rsplit("}", 1)[-1] if "}" in t else t


# ------------------------------------------------------------- readers


def _para_text(p) -> str:
    """python-docx paragraph.text semantics over a w:p element."""
    parts: list[str] = []
    for el in p.iter():
        lt = _tag(el)
        if lt == "t":
            parts.append(el.text or "")
        elif lt == "tab":
            parts.append("\t")
        elif lt in ("br", "cr"):
            parts.append("\n")
    return "".join(parts)


def extract_docx_text(data: bytes) -> str | None:
    """extract_word_text port: paragraphs + "\\n" each, then table cells
    + " " each, then strip (office_comparer_batch.py:12-24)."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            root = ET.fromstring(zf.read("word/document.xml"))
    except Exception:
        return None
    body = next((c for c in root if _tag(c) == "body"), None)
    if body is None:
        return None
    out: list[str] = []
    tables = []
    for child in body:
        lt = _tag(child)
        if lt == "p":
            out.append(_para_text(child) + "\n")
        elif lt == "tbl":
            tables.append(child)
    for tbl in tables:
        for tr in tbl.iter():
            if _tag(tr) != "tr":
                continue
            for tc in tr:
                if _tag(tc) != "tc":
                    continue
                cell_paras = [_para_text(p) for p in tc if _tag(p) == "p"]
                out.append("\n".join(cell_paras) + " ")
    return "".join(out).strip()


_CELL_REF = re.compile(r"([A-Z]+)([0-9]+)")


def _col_index(letters: str) -> int:
    """'A'->1, 'B'->2, ..., 'AA'->27 (ECMA-376 A1 references)."""
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - 64)
    return idx


def _num_str(v: str) -> str:
    """Render a numeric cell the way str(openpyxl value) would: int when
    integral, float otherwise (the reference compares str forms)."""
    try:
        f = float(v)
    except ValueError:
        return v
    return str(int(f)) if f.is_integer() and "e" not in v.lower() else str(f)


def extract_xlsx_cells(data: bytes) -> list[tuple[str, int, int, str]] | None:
    """load_excel_fast port: (sheet_name, row, col, value_str) tuples,
    1-based positions, completely-empty rows skipped
    (office_comparer_batch.py:26-54). The reference wraps the ENTIRE load
    in try/except and returns None (per-file tolerance), so a valid zip
    with malformed sheet XML (out-of-range sharedStrings index,
    non-integer <v>/row refs) must degrade to None, not fail the task."""
    try:
        return _extract_xlsx_cells(data)
    except Exception:
        return None


def _extract_xlsx_cells(data: bytes) -> list[tuple[str, int, int, str]] | None:
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    except Exception:
        return None
    rel_map = {
        r.get("Id"): r.get("Target") for r in rels if _tag(r) == "Relationship"
    }
    shared: list[str] = []
    try:
        sroot = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in sroot:
            shared.append(
                "".join(t.text or "" for t in si.iter() if _tag(t) == "t")
            )
    except KeyError:
        pass
    out: list[tuple[str, int, int, str]] = []
    sheets_el = next((c for c in wb if _tag(c) == "sheets"), None)
    if sheets_el is None:
        return None
    for sheet in sheets_el:
        name = sheet.get("name") or ""
        rid = next(
            (v for k, v in sheet.attrib.items() if k.endswith("}id")), None
        )
        target = rel_map.get(rid)
        if not target:
            continue
        path = "xl/" + target.lstrip("/") if not target.startswith("xl/") else target
        try:
            ws = ET.fromstring(zf.read(path))
        except Exception:
            return None
        row_seq = 0
        for row in ws.iter():
            if _tag(row) != "row":
                continue
            row_seq += 1
            r_idx = int(row.get("r", row_seq))
            col_seq = 0
            cells: list[tuple[int, str]] = []
            for c in row:
                if _tag(c) != "c":
                    continue
                col_seq += 1
                ref = c.get("r")
                if ref:
                    m = _CELL_REF.match(ref)
                    col = _col_index(m.group(1)) if m else col_seq
                else:
                    col = col_seq
                ctype = c.get("t", "n")
                val: str | None = None
                if ctype == "inlineStr":
                    val = "".join(
                        t.text or "" for t in c.iter() if _tag(t) == "t"
                    )
                else:
                    v_el = next((e for e in c if _tag(e) == "v"), None)
                    if v_el is not None and v_el.text is not None:
                        if ctype == "s":
                            val = shared[int(v_el.text)]
                        elif ctype in ("str", "b"):
                            val = v_el.text
                        else:
                            val = _num_str(v_el.text)
                if val is not None:
                    cells.append((col, val))
            if cells:  # skip completely empty rows, like the reference
                out.extend((name, r_idx, col, v) for col, v in cells)
    return out


def extract_pptx_text(data: bytes) -> str | None:
    """extract_powerpoint_text port: shape texts + " " each, strip
    (office_comparer_batch.py:127-138); shape text joins its a:p
    paragraphs with "\\n" (python-pptx)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
        names = sorted(
            (n for n in zf.namelist() if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)", n).group(1)),
        )
        if not names and "ppt/presentation.xml" not in zf.namelist():
            return None
        out: list[str] = []
        for n in names:
            root = ET.fromstring(zf.read(n))
            for sp in root.iter():
                if _tag(sp) != "sp":
                    continue
                tx = next((e for e in sp.iter() if _tag(e) == "txBody"), None)
                if tx is None:
                    continue
                paras = [
                    "".join(t.text or "" for t in p.iter() if _tag(t) == "t")
                    for p in tx
                    if _tag(p) == "p"
                ]
                out.append("\n".join(paras) + " ")
        return "".join(out).strip()
    except Exception:
        return None


def detect_office_kind(data: bytes) -> str | None:
    """'docx' / 'xlsx' / 'pptx' by package part, None if not OOXML."""
    if data[:2] != b"PK":
        return None
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
    except Exception:
        return None
    if "word/document.xml" in names:
        return "docx"
    if "xl/workbook.xml" in names:
        return "xlsx"
    if "ppt/presentation.xml" in names:
        return "pptx"
    return None


# ------------------------------------------------------------- writers


_CT_DOCX = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
</Types>"""

_RELS_DOC = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
</Relationships>"""

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


def _zip_write(parts: dict[str, str | bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(parts):
            body = parts[name]
            zi = zipfile.ZipInfo(name, date_time=_ZDATE)
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, body if isinstance(body, bytes) else body.encode("utf-8"))
    return buf.getvalue()


# everything outside XML 1.0 ``Char`` (W3C XML 1.0 §2.2)
_NON_XML_CHAR = re.compile(
    "[^\t\n\r\x20-\ud7ff\ue000-\ufffd\U00010000-\U0010ffff]"
)


def _xml_text(text: str) -> str:
    """``escape(text)`` for a writer; raises ValueError on a character
    that XML 1.0 forbids, which no reader could parse back."""
    bad = _NON_XML_CHAR.search(text)
    if bad:
        raise ValueError(
            f"U+{ord(bad.group()):04X} at index {bad.start()} is not an "
            "XML 1.0 character"
        )
    return escape(text)


def _w_p(text: str) -> str:
    return (
        f'<w:p><w:r><w:t xml:space="preserve">{_xml_text(text)}</w:t></w:r></w:p>'
    )


def make_docx(
    paragraphs: list[str], tables: list[list[list[str]]] | None = None
) -> bytes:
    """Minimal WordprocessingML package: one run per paragraph
    (xml:space preserved), optional tables of single-paragraph cells."""
    body = [_w_p(p) for p in paragraphs]
    for tbl in tables or []:
        rows = "".join(
            "<w:tr>"
            + "".join(f"<w:tc>{_w_p(cell)}</w:tc>" for cell in row)
            + "</w:tr>"
            for row in tbl
        )
        body.append(f"<w:tbl>{rows}</w:tbl>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}"><w:body>{"".join(body)}</w:body></w:document>'
    )
    return _zip_write(
        {
            "[Content_Types].xml": _CT_DOCX,
            "_rels/.rels": _RELS_DOC,
            "word/document.xml": doc,
        }
    )


_CT_XLSX_HEAD = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
{sheet_overrides}
</Types>"""

_RELS_XL = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _col_letters(idx: int) -> str:
    out = ""
    while idx > 0:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def make_xlsx(sheets: dict[str, list[list[object]]]) -> bytes:
    """Minimal SpreadsheetML package. str cells go through
    sharedStrings (exercising the reader's shared path); int/float
    cells are numeric; None leaves a gap. Rows with no non-None cell
    are not written."""
    shared: list[str] = []
    shared_idx: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in shared_idx:
            shared_idx[s] = len(shared)
            shared.append(s)
        return shared_idx[s]

    parts: dict[str, str] = {}
    wb_sheets = []
    wb_rels = []
    overrides = []
    for i, (name, rows) in enumerate(sheets.items(), start=1):
        xml_rows = []
        for r, row in enumerate(rows, start=1):
            cells = []
            for c, val in enumerate(row, start=1):
                if val is None:
                    continue
                ref = f"{_col_letters(c)}{r}"
                if isinstance(val, str):
                    cells.append(f'<c r="{ref}" t="s"><v>{sref(val)}</v></c>')
                else:
                    cells.append(f'<c r="{ref}"><v>{val}</v></c>')
            if cells:
                xml_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
        parts[f"xl/worksheets/sheet{i}.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(xml_rows)}</sheetData></worksheet>'
        )
        wb_sheets.append(
            f'<sheet name="{_xml_text(name)}" sheetId="{i}" r:id="rId{i}"/>'
        )
        wb_rels.append(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>'
        )
        overrides.append(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        )
    parts["xl/workbook.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets>{"".join(wb_sheets)}</sheets></workbook>'
    )
    parts["xl/_rels/workbook.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f'{"".join(wb_rels)}</Relationships>'
    )
    parts["xl/sharedStrings.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_xml_text(s)}</t></si>' for s in shared
        )
        + "</sst>"
    )
    parts["[Content_Types].xml"] = _CT_XLSX_HEAD.format(
        sheet_overrides="".join(overrides)
    )
    parts["_rels/.rels"] = _RELS_XL
    return _zip_write(parts)


_CT_PPTX_HEAD = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>
{slide_overrides}
</Types>"""

_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"


def make_pptx(slides: list[list[str]]) -> bytes:
    """Minimal PresentationML package: slides[i] is a list of shape
    texts; multi-line shape text becomes multiple a:p paragraphs."""
    parts: dict[str, str] = {}
    overrides = []
    for i, shapes in enumerate(slides, start=1):
        sp_xml = []
        for text in shapes:
            paras = "".join(
                f'<a:p><a:r><a:t>{_xml_text(line)}</a:t></a:r></a:p>'
                for line in text.split("\n")
            )
            sp_xml.append(f"<p:sp><p:txBody>{paras}</p:txBody></p:sp>")
        parts[f"ppt/slides/slide{i}.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{_P}" xmlns:a="{_A}">'
            f'<p:cSld><p:spTree>{"".join(sp_xml)}</p:spTree></p:cSld></p:sld>'
        )
        overrides.append(
            f'<Override PartName="/ppt/slides/slide{i}.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>'
        )
    parts["ppt/presentation.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_P}"/>'
    )
    parts["[Content_Types].xml"] = _CT_PPTX_HEAD.format(
        slide_overrides="".join(overrides)
    )
    parts["_rels/.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="ppt/presentation.xml"/>'
        "</Relationships>"
    )
    return _zip_write(parts)


# ------------------------------------------------------- Spark surface

OFFICE_TEXT_SCHEMA = "doc_id long, office_kind string, text string, valid boolean"
XLSX_CELLS_SCHEMA = (
    "doc_id long, sheet string, row_idx int, col_idx int, value string"
)


def extract_office_text(df: DataFrame) -> DataFrame:
    """(doc_id, payload:binary) -> extracted text per the reference's
    per-format rules; valid=false (text NULL) for non-OOXML payloads —
    the per-file try/except tolerance the reference applies."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts, valids = [], [], []
            for raw in pdf["payload"]:
                raw = bytes(raw) if raw is not None else b""
                kind = detect_office_kind(raw)
                text = None
                if kind == "docx":
                    text = extract_docx_text(raw)
                elif kind == "pptx":
                    text = extract_pptx_text(raw)
                kinds.append(kind or "unknown")
                texts.append(text)
                valids.append(text is not None or kind == "xlsx")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "office_kind": kinds,
                    "text": texts,
                    "valid": valids,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(fn, OFFICE_TEXT_SCHEMA)


def xlsx_cells(df: DataFrame) -> DataFrame:
    """(doc_id, payload) -> one row per cell (sheet, row, col, value) —
    the distributed form of load_excel_fast's sheet dict, ready for the
    cell-match-ratio pair join (line_match analog)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "sheet": [], "row_idx": [], "col_idx": [], "value": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(raw) if raw is not None else b""
                cells = extract_xlsx_cells(raw)
                for sheet, r, c, v in cells or []:
                    rows["doc_id"].append(int(doc_id))
                    rows["sheet"].append(sheet)
                    rows["row_idx"].append(r)
                    rows["col_idx"].append(c)
                    rows["value"].append(v)
            yield pd.DataFrame(rows)

    return df.select("doc_id", "payload").mapInPandas(fn, XLSX_CELLS_SCHEMA)
