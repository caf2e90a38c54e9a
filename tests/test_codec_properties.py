"""Property-based evidence for the round-3 real codecs (hypothesis):
arbitrary inputs must round-trip bit-exactly through PNG/BMP and the
Office writers/readers."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mediaduplicatefinder_spark.functions.imagecodec import (
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
)
from mediaduplicatefinder_spark.operators.office import (
    extract_docx_text,
    extract_xlsx_cells,
    make_docx,
    make_xlsx,
)


def luma(rgb: np.ndarray) -> np.ndarray:
    a = rgb.astype(np.int64)
    return ((77 * a[..., 0] + 150 * a[..., 1] + 29 * a[..., 2]) >> 8).astype(
        np.uint8
    )


@st.composite
def gray_images(draw):
    h = draw(st.integers(1, 24))
    w = draw(st.integers(1, 24))
    seed = draw(st.integers(0, 2**31 - 1))
    return np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.uint8)


@settings(max_examples=40, deadline=None)
@given(img=gray_images(), fc=st.sampled_from([0, 1, 2, 3, 4, "mixed"]))
def test_png_gray_roundtrip_property(img, fc):
    assert np.array_equal(decode_png(encode_png(img, fc)), img)


@settings(max_examples=30, deadline=None)
@given(img=gray_images(), fc=st.sampled_from([1, 3, 4, "mixed"]))
def test_png_rgb_and_bmp_roundtrip_property(img, fc):
    rng = np.random.RandomState(int(img.sum()) % (2**31))
    rgb = rng.randint(0, 256, (*img.shape, 3)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(rgb, fc)), luma(rgb))
    assert np.array_equal(decode_bmp(encode_bmp(rgb)), luma(rgb))


# XML 1.0 printable text (no control chars below 0x20 except \t\n which
# docx runs cannot carry raw anyway — tabs/newlines are separate elements;
# U+FFFE/U+FFFF are outside XML's Char production and the writers reject
# them)
_xmltext = st.text(
    alphabet=st.characters(
        min_codepoint=0x20,
        max_codepoint=0x2FA1D,
        blacklist_categories=("Cs",),  # no lone surrogates
        blacklist_characters="\ufffe\uffff",
    ),
    max_size=60,
)


@settings(max_examples=40, deadline=None)
@given(paragraphs=st.lists(_xmltext, min_size=1, max_size=6))
def test_docx_roundtrip_property(paragraphs):
    got = extract_docx_text(make_docx(paragraphs))
    want = "\n".join(paragraphs).strip()
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    cells=st.lists(
        st.lists(st.one_of(_xmltext, st.integers(-10**9, 10**9)), max_size=4),
        min_size=1,
        max_size=4,
    )
)
def test_xlsx_roundtrip_property(cells):
    got = extract_xlsx_cells(make_xlsx({"s": cells}))
    want = []
    for r, row in enumerate(cells, start=1):
        for c, v in enumerate(row, start=1):
            if v is not None:
                want.append(("s", r, c, str(v)))
    assert sorted(got) == sorted(want)
