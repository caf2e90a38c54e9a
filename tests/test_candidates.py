"""``candidates.lsh_bands`` is the one band relation that batch
candidates, increments and cross-corpus joins key on: the MinHash bands
of the non-empty docs, nothing else."""

from __future__ import annotations

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG as CFG
from mediaduplicatefinder_spark.operators.candidates import lsh_bands
from mediaduplicatefinder_spark.operators.signatures import compute_signatures


def test_lsh_bands_are_the_minhash_bands_of_nonempty_docs(spark):
    texts = {
        "u://a": "alpha bravo charlie delta echo foxtrot",
        "u://b": "golf hotel india juliet kilo lima mike",
        "u://empty": "",
        "u://short-tokens": "a b ok to",  # no token longer than 2 chars
    }
    docs = spark.createDataFrame(
        [(u, "en", len(t.encode()), t) for u, t in texts.items()],
        "url string, lang string, size_bytes long, text string",
    )
    sigs = compute_signatures(docs, CFG, include_minhash=False)
    url_of = {r.doc_key: r.url for r in sigs.select("doc_key", "url").collect()}
    bands: dict[str, list[int]] = {}
    for r in lsh_bands(sigs, CFG).select("doc_key", "band").collect():
        bands.setdefault(url_of[r.doc_key], []).append(r.band)
    want = list(range(CFG.minhash_bands))
    assert {u: sorted(b) for u, b in bands.items()} == {
        "u://a": want,
        "u://b": want,
    }
