"""oracle/lsh_sql.py — the DuckDB re-derivation of the full LSH
pipeline — checked against a pure-Python replay of the engine's own
kernels (functions/sigcore + the candidates/verify semantics), plus
Spark-vs-SQL end-to-end parity including the capped chain+star bucket
fallback (reproducible because Spark's xxhash64 doc_key is re-derived
in SQL — bit-parity pinned below)."""

from __future__ import annotations

import os
import random
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd
import pytest

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG as CFG
from mediaduplicatefinder_spark.functions import hashing
from mediaduplicatefinder_spark.functions.sigcore import SignatureComputer
from mediaduplicatefinder_spark.oracle import lsh_sql

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu one two three four"
).split()


def _corpus(n=60, seed=7):
    rng = random.Random(seed)
    rows = []
    base = None
    for i in range(n):
        if i % 4 == 0 or base is None:
            words = rng.choices(VOCAB, k=rng.randint(15, 40))
            base = words
        else:  # near-dup of the last base: tweak a few words
            words = list(base)
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        rows.append(
            {
                "doc_id": i,
                "lang": rng.choice(["en", "de"]),
                "text": " ".join(words),
            }
        )
    return pd.DataFrame(rows)


def _python_replay(pdf: pd.DataFrame, cfg=CFG):
    """Engine-kernel replay: sigcore signatures -> MinHash band buckets ->
    prefiltered pairs -> fold32 Jaccard + mean Hamming."""
    comp = SignatureComputer(cfg)
    sigs = comp.compute(list(pdf["text"]))
    urls = [f"doc://{i:010d}" for i in pdf["doc_id"]]
    langs = list(pdf["lang"])
    sizes = [len(t.encode()) for t in pdf["text"]]
    nsh = sigs["n_shingles"]

    buckets = defaultdict(list)
    for d in range(len(pdf)):
        if nsh[d] == 0:
            continue
        for b, bh in enumerate(sigs["band_hashes"][d]):
            buckets[(langs[d], b, int(bh))].append(d)

    folded = [set(hashing.fold32(np.asarray(t))) for t in sigs["token_hashes"]]
    pairs = {}
    for members in buckets.values():
        assert len(members) <= cfg.bucket_cap, "test corpus must stay uncapped"
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if urls[a] > urls[b]:
                    a, b = b, a
                if (a, b) in pairs:
                    continue
                ratio = min(sizes[a], sizes[b]) / max(sizes[a], sizes[b])
                nr = min(nsh[a], nsh[b]) / max(nsh[a], nsh[b])
                if ratio < cfg.size_ratio_min or nr <= cfg.jaccard_threshold:
                    continue
                fa, fb = folded[a], folded[b]
                inter = len(fa & fb)
                union = len(fa) + len(fb) - inter
                jac = inter / union if union else 0.0
                ham = (
                    hashing.hamming64(sigs["simhash1"][a], sigs["simhash1"][b])
                    + hashing.hamming64(sigs["simhash2"][a], sigs["simhash2"][b])
                ) / 2.0
                pairs[(a, b)] = (urls[a], urls[b], jac, ham)
    return list(pairs.values())


def test_lsh_sql_matches_engine_kernels():
    pdf = _corpus()
    con = duckdb.connect()
    con.register("documents", pdf)

    mh = con.execute(lsh_sql.minhash_lsh_pairs_sql()).fetchall()
    sh = con.execute(lsh_sql.simhash_hamming_pairs_sql()).fetchall()

    replay = _python_replay(pdf)
    exp_mh = {
        (a, b): j for a, b, j, _ in replay if j > CFG.jaccard_threshold
    }
    exp_sh = {
        (a, b): h for a, b, _, h in replay if h <= CFG.hamming_threshold
    }

    got_mh = {(a, b): s for a, b, s in mh}
    got_sh = {(a, b): h for a, b, h in sh}
    assert set(got_mh) == set(exp_mh)
    assert set(got_sh) == set(exp_sh)
    for k, v in exp_mh.items():
        assert got_mh[k] == pytest.approx(v, abs=0, rel=0), k
    for k, v in exp_sh.items():
        assert got_sh[k] == v, k
    # the corpus must actually exercise both decision branches
    assert len(exp_mh) > 10 and len(exp_sh) > 10
    assert any(j < 1.0 for j in exp_mh.values())


def test_lsh_sql_generator_handles_nondefault_config():
    """The SQL builders are config-parameterized (seeds, r, b and
    thresholds are inlined per config) — check a non-default
    EngineConfig against the python replay so the generator is not
    silently DEFAULT_CONFIG-shaped."""
    import dataclasses

    cfg = dataclasses.replace(
        CFG,
        minhash_rows=2,
        minhash_bands=8,          # num_perm = 16
        minhash_seed=0xD00D_0042,
        simhash_seeds=(0x1111_2222, 0x3333_4444),
        jaccard_threshold=0.5,
        size_ratio_min=0.2,
        bucket_cap=64,
    )
    pdf = _corpus(n=80, seed=21)
    con = duckdb.connect()
    con.register("documents", pdf)
    mh = con.execute(lsh_sql.minhash_lsh_pairs_sql(cfg)).fetchall()
    sh = con.execute(lsh_sql.simhash_hamming_pairs_sql(cfg)).fetchall()

    replay = _python_replay(pdf, cfg)
    exp_mh = {(a, b): j for a, b, j, _ in replay if j > cfg.jaccard_threshold}
    exp_sh = {(a, b): h for a, b, _, h in replay if h <= cfg.hamming_threshold}
    got_mh = {(a, b): s for a, b, s in mh}
    got_sh = {(a, b): h for a, b, h in sh}
    assert got_mh == exp_mh
    assert got_sh == exp_sh
    assert len(exp_mh) > 5 and len(exp_sh) > 5


def test_dedup_clusters_sql_matches_pipeline(spark):
    """dedup_clusters_sql vs the real run_dedup on a corpus with EXACT
    groups, near-dup clusters, AND the keeper tie case (a url that is
    both its sha-group min and its CC component label — two rows with
    identical (priority, sort_dir, url), resolved by the kind
    tie-break)."""
    from pyspark.sql import functions as F

    from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
    from mediaduplicatefinder_spark.pipeline import run_dedup

    pdf = _corpus(n=50, seed=11)
    # exact dups: doc 0 == doc 1 == doc 2; doc 10 == doc 11
    pdf.loc[1, "text"] = pdf.loc[0, "text"]
    pdf.loc[2, "text"] = pdf.loc[0, "text"]
    pdf.loc[1, "lang"] = pdf.loc[0, "lang"]
    pdf.loc[2, "lang"] = pdf.loc[0, "lang"]
    pdf.loc[11, "text"] = pdf.loc[10, "text"]
    pdf.loc[11, "lang"] = pdf.loc[10, "lang"]
    # near-dup of doc 0 (same lang): tie case — doc 0 is the sha-group
    # min AND (being the smallest url) the CC label of its component
    words = pdf.loc[0, "text"].split()
    words[0] = "zzzmutant"
    pdf.loc[3, "text"] = " ".join(words)
    pdf.loc[3, "lang"] = pdf.loc[0, "lang"]

    con = duckdb.connect()
    con.register("documents", pdf)
    sql = con.execute(lsh_sql.dedup_clusters_sql()).df()

    pages = spark.createDataFrame(pdf).select(
        F.format_string("doc://%010d", F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "text",
        "lang",
    )
    res = run_dedup(spark, pages, DEFAULT_CONFIG, use_html=False)
    got = (
        res.clusters.select("url", "cluster_id", "kind", "score", "is_keeper")
        .toPandas()
    )
    res.cleanup()

    key = ["url", "cluster_id", "kind"]
    sql = sql.sort_values(key).reset_index(drop=True)
    got = got[sql.columns].sort_values(key).reset_index(drop=True)
    assert len(sql) == len(got)
    assert (sql[key].values == got[key].values).all()
    assert np.allclose(sql["score"], got["score"], rtol=0, atol=0)
    assert (sql["is_keeper"].astype(bool).values == got["is_keeper"].values).all()
    # the corpus must exercise all three advertised branches
    assert (sql["kind"] == "EXACT").sum() >= 5
    assert (sql["kind"] == "SIMILAR").sum() >= 5
    dup_rows = sql.groupby(["url", "cluster_id"]).size()
    assert (dup_rows >= 2).any(), "keeper tie case not exercised"

    # star-parity oracle on the same corpus vs the engine replay
    from mediaduplicatefinder_spark.operators.clustering import (
        connected_components,
    )
    from mediaduplicatefinder_spark.operators.starparity import (
        star_parity_groups,
    )
    from mediaduplicatefinder_spark.operators.verify import similar_edges

    res2 = run_dedup(spark, pages, DEFAULT_CONFIG, use_html=False)
    edges = similar_edges(res2.pairs)
    labels = connected_components(edges, DEFAULT_CONFIG)
    star = (
        star_parity_groups(labels, edges)
        .select("url", "star_seed", F.round("score", 6).alias("score"), "lang")
        .toPandas()
    )
    res2.cleanup()
    star_sql = con.execute(lsh_sql.star_parity_groups_sql()).df()
    skey = ["url", "star_seed"]
    star = star.sort_values(skey).reset_index(drop=True)
    star_sql = star_sql[star.columns].sort_values(skey).reset_index(drop=True)
    assert len(star) == len(star_sql) and len(star) > 10
    assert (star[skey].values == star_sql[skey].values).all()
    assert np.allclose(star["score"], star_sql["score"], rtol=0, atol=0)
    assert (star["lang"].values == star_sql["lang"].values).all()


def test_long_match_sql_matches_python_replay():
    """long_match_pairs_sql (winnow k=16/w=32 candidates + diagonal-runs
    LCS) vs a python replay using the engine's own winnow kernel and
    the suffix-automaton LCS — planted long shared substrings."""
    from mediaduplicatefinder_spark.functions import winnow
    from mediaduplicatefinder_spark.operators.substring import _lcs_length

    rng = random.Random(3)
    shared_long = "".join(rng.choices("abcdefghij0123456789", k=80))
    shared_mid = "".join(rng.choices("klmnopqrst", k=50))
    rows = []
    for i in range(30):
        body = "".join(rng.choices("uvwxyz", k=rng.randint(60, 200)))
        if i % 3 == 0:
            body = body[:20] + shared_long + body[20:]
        if i % 5 == 0:
            body += shared_mid
        # punctuation exercises normalization
        rows.append({"doc_id": i, "lang": "en", "text": body[:50] + "!! " + body[50:]})
    pdf = pd.DataFrame(rows)

    con = duckdb.connect()
    con.register("documents", pdf)
    got = {
        (a, b): l
        for a, b, l in con.execute(lsh_sql.long_match_pairs_sql()).fetchall()
    }

    k, w, min_match, cap = 16, 32, 47, 512
    norm = {
        str(r.doc_id): winnow.normalize_for_winnow(r.text)
        for r in pdf.itertuples()
    }
    fps = {
        u: set(winnow.winnow_fingerprints(s, k, w).tolist())
        for u, s in norm.items()
    }
    fp_docs = defaultdict(set)
    for u, f in fps.items():
        for x in f:
            fp_docs[x].add(u)
    cold = {x for x, docs in fp_docs.items() if len(docs) <= cap}
    exp = {}
    urls = sorted(norm)  # string order, matching the SQL's a.url < b.url
    for x in range(len(urls)):
        for y in range(x + 1, len(urls)):
            a, b = urls[x], urls[y]
            if fps[a] & fps[b] & cold:
                l = _lcs_length(norm[a], norm[b])
                if l >= min_match:
                    exp[(int(a), int(b))] = l
    assert got == exp
    assert len(exp) >= 10  # planted matches must actually surface


def test_media_fixture_matches_datagen():
    """The committed media fixture parquet must equal generate_media
    (the queries and oracles both read the file; this pins that the
    file IS the deterministic corpus — regenerate it if datagen
    changes)."""
    import pyarrow.parquet as pq

    from mediaduplicatefinder_spark.datagen.media import generate_media
    from mediaduplicatefinder_spark.oracle.lsh_sql import MEDIA_FIXTURE

    got = pq.read_table(MEDIA_FIXTURE).to_pandas()
    exp = generate_media(400, seed=42)
    assert list(got.columns) == list(exp.columns)
    assert len(got) == len(exp)
    assert (got["media_id"].values == exp["media_id"].values).all()
    assert all(bytes(a) == bytes(b) for a, b in zip(got["payload"], exp["payload"]))


def test_media_sql_handles_malformed_payloads(tmp_path):
    """media_meta_sql parses headers byte-for-byte and mirrors the
    engine's malformed-row tolerance; media_dup_pairs_sql matches the
    engine hashes+decision — on an adversarial corpus (bad magic,
    truncated header, tiny body, unknown kind byte)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mediaduplicatefinder_spark.datagen.media import generate_media
    from mediaduplicatefinder_spark.operators import multimodal as mm

    pdf = generate_media(60, seed=9)[["media_id", "payload"]]
    extra = pd.DataFrame(
        {
            "media_id": [1000, 1001, 1002, 1003],
            "payload": [
                b"NOTMEDIA" + b"\x00" * 40,        # bad magic
                mm.pack_media(0, 5, 5, 1, b"")[:12],  # truncated header
                mm.pack_media(0, 8, 8, 1, b"ab"),  # body too small to hash
                mm.pack_media(7, 3, 3, 0, b"x" * 100),  # unknown kind byte
            ],
        }
    )
    pdf = pd.concat([pdf, extra], ignore_index=True)
    path = str(tmp_path / "media.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)

    from mediaduplicatefinder_spark.oracle import lsh_sql

    con = duckdb.connect()
    meta_sql = con.execute(lsh_sql.media_meta_sql(path)).df()
    dup_sql = con.execute(lsh_sql.media_dup_pairs_sql(path=path)).df()

    # python replay of decode_media_meta via the engine's own parse
    import struct

    exp_meta = []
    for r in pdf.itertuples():
        raw = bytes(r.payload)
        if len(raw) >= mm.HEADER_LEN and raw.startswith(mm.MAGIC):
            kind, w, h, nf = struct.unpack("<BIII", raw[len(mm.MAGIC) : mm.HEADER_LEN])
            exp_meta.append(
                (r.media_id, mm.KINDS[kind] if kind < 3 else "unknown",
                 w, h, nf, len(raw) - mm.HEADER_LEN, True)
            )
        else:
            exp_meta.append((r.media_id, "unknown", 0, 0, 0, len(raw), False))
    exp_meta = pd.DataFrame(
        exp_meta, columns=list(meta_sql.columns)
    ).sort_values("media_id").reset_index(drop=True)
    meta_sql = meta_sql.sort_values("media_id").reset_index(drop=True)
    assert meta_sql.astype(object).values.tolist() == exp_meta.astype(object).values.tolist()
    assert not exp_meta["valid"].all()  # adversarial rows exercised

    # python replay of media_dup_pairs
    hashes = {}
    for r in pdf.itertuples():
        raw = bytes(r.payload)
        if not (len(raw) >= mm.HEADER_LEN and raw.startswith(mm.MAGIC)):
            continue
        kind = raw[len(mm.MAGIC)]
        if kind != 0:
            continue
        img = mm.gray_from_body(raw[mm.HEADER_LEN:])
        if img is None:
            continue
        a, d = mm.ahash64(img), mm.dhash64(img)
        if a and d:
            hashes[r.media_id] = (a, d)
    exp_pairs = {}
    ids = sorted(hashes)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            ia, ib = ids[x], ids[y]
            (aa, da), (ab, db) = hashes[ia], hashes[ib]
            shares = any(
                ((v1 >> (i * 16)) & 0xFFFF) == ((v2 >> (i * 16)) & 0xFFFF)
                for v1, v2 in ((aa, ab), (da, db))
                for i in range(4)
            )
            if not shares:
                continue
            mh = (bin(da ^ db).count("1") + bin(aa ^ ab).count("1")) / 2.0
            if mh <= 15.0:
                sc = round((1 - bin(da ^ db).count("1") / 64.0
                            + 1 - bin(aa ^ ab).count("1") / 64.0) / 2.0, 6)
                exp_pairs[(ia, ib)] = (mh, sc)
    got_pairs = {
        (int(r.media_a), int(r.media_b)): (r.hamming_mean, r.score)
        for r in dup_sql.itertuples()
    }
    assert got_pairs == exp_pairs
    assert len(exp_pairs) >= 2  # planted dup classes must surface


def test_embedding_projection_matches_list_dot_product():
    """The engine's sequential per-dim projection fold
    (with_hyperplane_simhash) must be bit-identical to DuckDB's
    list_dot_product — the invariant the embedding LSH oracles rest on.
    Checked on magnitude-varied random vectors against the real
    hyperplanes."""
    from mediaduplicatefinder_spark.operators.embeddings import (
        SIMHASH_BITS,
        _hyperplanes,
    )

    rng = np.random.RandomState(5)
    dim = 64
    planes = _hyperplanes(dim)
    mat = rng.standard_normal((50, dim)) * (
        10.0 ** rng.randint(-6, 6, size=(50, 1))
    )
    proj = np.zeros((len(mat), SIMHASH_BITS))
    for d in range(dim):
        proj += mat[:, d : d + 1] * planes[d][None, :]

    con = duckdb.connect()
    for r in range(0, 50, 7):
        for i in range(0, SIMHASH_BITS, 11):
            got = con.execute(
                "SELECT list_dot_product(?::DOUBLE[], ?::DOUBLE[])",
                [list(map(float, mat[r])), list(map(float, planes[:, i]))],
            ).fetchone()[0]
            assert got == proj[r, i], (r, i)


def test_xxh64_sql_matches_spark(spark):
    """xxh64_doc_key_cte must equal Spark's xxhash64 bit-for-bit on the
    engine's 16-byte doc:// urls — the invariant that makes the capped
    chain+star bucket fallback reproducible in SQL."""
    from pyspark.sql import functions as F

    from mediaduplicatefinder_spark.oracle.lsh_sql import xxh64_doc_key_cte

    urls = [f"doc://{i:010d}" for i in
            [0, 1, 42, 255, 65535, 999999, 123456789, 9999999999]]
    exp = {
        r.url: r.dk
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", F.xxhash64("url").alias("dk"))
        .collect()
    }
    con = duckdb.connect()
    con.register("u0", pd.DataFrame({"url": urls}))
    sql = xxh64_doc_key_cte("SELECT url FROM u0")
    for url, dk in con.execute(sql).fetchall():
        signed = int(dk) - (1 << 64) if int(dk) >= (1 << 63) else int(dk)
        assert signed == exp[url], url


def test_hot_bucket_chain_star_parity(spark):
    """Capped-bucket fidelity: a corpus where 300 docs share one token
    SET (shuffled word order -> identical signatures, distinct sha256)
    forces every band bucket over bucket_cap=256, so the engine
    switches to CHAIN+STAR pairs in doc_key order. The SQL oracle must
    reproduce that exact pair set via its in-SQL xxhash64."""
    from pyspark.sql import functions as F

    from mediaduplicatefinder_spark.config import DEFAULT_CONFIG

    rng = random.Random(13)
    words = VOCAB[:20]
    rows = []
    for i in range(300):
        w = list(words)
        rng.shuffle(w)
        rows.append({"doc_id": i, "lang": "en", "text": " ".join(w)})
    # plus a handful of normal docs so small buckets coexist
    for i in range(300, 320):
        rows.append(
            {
                "doc_id": i,
                "lang": "en",
                "text": " ".join(rng.choices(VOCAB, k=rng.randint(15, 30))),
            }
        )
    pdf = pd.DataFrame(rows)

    con = duckdb.connect()
    con.register("documents", pdf)
    sql = con.execute(lsh_sql.minhash_lsh_pairs_sql()).df()

    import __spark_entry__ as e

    import pyarrow.parquet as pq
    import pyarrow as pa
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            f"{td}/documents.parquet",
        )
        got = e.queries()["minhash_lsh_pairs"](spark, td).toPandas()

    key = ["url_a", "url_b"]
    sql = sql.sort_values(key).reset_index(drop=True)
    got = got[sql.columns].sort_values(key).reset_index(drop=True)
    assert len(sql) == len(got)
    assert (sql[key].values == got[key].values).all()
    assert np.allclose(sql["score"], got["score"], rtol=0, atol=0)
    # the corpus must actually trigger the cap: 300 members > 256, and
    # chain+star emits ~2n pairs per bucket, far below C(300,2)
    n_hot_pairs = len(sql)
    assert n_hot_pairs < 300 * 299 / 2
    assert n_hot_pairs >= 300  # chain covers all 300 + star + small buckets
