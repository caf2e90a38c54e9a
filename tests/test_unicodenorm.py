"""Unicode NFC normalization (functions/unicodenorm.py, E52)."""

from __future__ import annotations

import unicodedata

from mediaduplicatefinder_spark.functions.unicodenorm import nfc_normalize


def test_nfc_cases(spark):
    rows = [
        (1, "plain ascii stays put"),
        (2, "café"),             # decomposed -> café
        (3, "Ångström"),     # composed: no-op
        (4, "Ångström"),   # decomposed -> Ångström
        (5, "각"),     # jamo -> 각
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r.doc_id: r for r in nfc_normalize(df).collect()}
    for i, text in [(k, t) for k, t in rows if t is not None]:
        want = unicodedata.normalize("NFC", text)
        assert got[i].text_nfc == want
        assert got[i].changed == (want != text)
    assert not got[1].changed
    assert got[2].text_nfc == "café" and got[2].changed
    assert got[4].text_nfc == "Ångström"
    assert got[5].text_nfc == "각"
    assert got[5].n_chars_before == 3 and got[5].n_chars_after == 1
    assert got[6].text_nfc is None


def test_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "Å é 가")], "doc_id: long, text: string"
    )
    once = nfc_normalize(df).select("doc_id", "text_nfc")
    twice = nfc_normalize(once, text_col="text_nfc", out_col="t2").collect()[0]
    assert twice.t2 == twice.text_nfc and not twice.changed
