"""Incremental ingest (incremental.py): two increments must produce
exactly the clusters a full recompute over the union corpus produces,
and each increment's corpus-side joins must read the bucketed store
without reshuffling it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
from mediaduplicatefinder_spark.incremental import (
    ingest_batch,
    init_store,
    store_exists,
)
from mediaduplicatefinder_spark.pipeline import run_dedup


def _label_sets(rows):
    """Frozen co-membership view: {cluster_id: frozenset(urls)}."""
    out = {}
    for r in rows:
        out.setdefault(r.cluster_id, set()).add(r.url)
    return {k: frozenset(v) for k, v in out.items()}


@pytest.fixture(scope="module")
def corpus(tiny_corpus):
    pages, _ = tiny_corpus
    # split by position: roughly half the corpus per increment, dup
    # classes straddling the boundary exercise new<->old candidate joins
    half = len(pages) // 2
    return pages.iloc[:half], pages.iloc[half:]


def test_incremental_matches_full_recompute(spark, corpus, tmp_path):
    a, b = corpus
    db = "incr_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store"))
    assert not store_exists(spark, db)

    r1 = ingest_batch(spark, spark.createDataFrame(a), db)
    assert store_exists(spark, db)
    r2 = ingest_batch(spark, spark.createDataFrame(b), db)
    got = _label_sets(r2.labels.collect())

    full = run_dedup(
        spark, spark.createDataFrame(a).unionByName(spark.createDataFrame(b)),
        DEFAULT_CONFIG,
    )
    want = _label_sets(
        full.similar_clusters.select("url", "cluster_id").collect()
    )
    full.cleanup()
    assert got == want  # identical cluster ids AND memberships

    # exact ledger equals the full run's sha grouping
    shas = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in spark.table(f"{db}.shas").filter(F.col("n_dups") >= 2).collect()
    }
    full_sha = spark.createDataFrame(a).unionByName(spark.createDataFrame(b))
    from mediaduplicatefinder_spark.operators.extract import extracted_or_given_text

    docs = extracted_or_given_text(full_sha, use_html=True)
    want_sha = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in docs.select(
            F.sha2(F.col("text").cast("binary"), 256).alias("sha256"), "url"
        )
        .groupBy("sha256")
        .agg(F.count("*").alias("n_dups"), F.min("url").alias("cluster_id"))
        .filter(F.col("n_dups") >= 2)
        .collect()
    }
    assert shas == want_sha

    # second increment found cross-increment edges (dup classes straddle)
    old_urls = set(a.url)
    crossing = [
        r
        for r in r2.new_edges.collect()
        if (r.url_a in old_urls) != (r.url_b in old_urls)
    ]
    assert crossing, "expected new<->old similar pairs across the split"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_store_side_scan_not_reshuffled(spark, corpus, tmp_path):
    """The band-store side of the new-vs-old candidate join must come
    from the bucketed scan (SelectedBucketsCount in the plan), not an
    Exchange over the corpus."""
    from tests.test_plans import plan_of

    a, b = corpus
    db = "incr_plan_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store2"))
    ingest_batch(spark, spark.createDataFrame(a), db)

    bands_old = spark.table(f"{db}.bands")
    new_bands = bands_old.limit(50).select("lang", "band", "bh",
        F.col("doc_key").alias("key_new"))
    p = plan_of(new_bands.join(bands_old, ["lang", "band", "bh"]))
    assert "Bucketed: true" in p or "SelectedBucketsCount" in p
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _files_per_write(spark, table):
    """{write id: data files} of a bucketed table. Spark names a bucket
    file ``part-<task>-<write uuid>_<bucket id>.c<n>...``, so the uuid
    says which write produced it."""
    import os
    import re
    from collections import Counter

    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter(F.col("col_name") == "Location")
        .first()
        .data_type
    ).removeprefix("file:")
    out = Counter()
    for name in os.listdir(loc):
        if name.startswith((".", "_")):
            continue
        m = re.fullmatch(r"part-\d+-(.+)_\d{5}\.c\d+\..*parquet", name)
        assert m, f"not a bucket file: {name}"
        out[m.group(1)] += 1
    return out


def test_store_writes_one_file_per_bucket(spark, tmp_path):
    """Every bucketed store write repartitions on its bucket columns
    first, so one write adds at most N_BUCKETS files per table: appends
    (base store + one increment) and re-crawl republishes alike."""
    from mediaduplicatefinder_spark.datagen.pages import generate_pages
    from mediaduplicatefinder_spark.incremental import N_BUCKETS

    db = "incr_files_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store_files"))
    a, _ = generate_pages(n_docs=150, seed=42, min_words=30, max_words=120)
    b, _ = generate_pages(n_docs=40, seed=777, min_words=30, max_words=120)
    ingest_batch(spark, spark.createDataFrame(a), db)
    ingest_batch(spark, spark.createDataFrame(b), db)

    tables = ("sigs", "bands", "members", "edges")
    before = {}
    for t in tables:
        writes = _files_per_write(spark, f"{db}.{t}")
        assert 1 <= len(writes) <= 2, (t, writes)
        assert max(writes.values()) <= N_BUCKETS, (t, writes)
        assert sum(writes.values()) <= 2 * N_BUCKETS, (t, writes)
        before[t] = set(writes)

    # re-crawl one stored singleton url: retraction republishes all four
    # tables, then the batch appends its own rows
    singles = {
        r.cluster_id
        for r in spark.table(f"{db}.shas").filter("n_dups = 1").collect()
    }
    stored = {r.url for r in spark.table(f"{db}.sigs").select("url").collect()}
    u = sorted(stored & singles)[0]
    c, _ = generate_pages(n_docs=1, seed=888, min_words=30, max_words=120)
    c["url"] = u
    ingest_batch(spark, spark.createDataFrame(c), db, on_recrawl="upsert")
    for t in tables:
        writes = _files_per_write(spark, f"{db}.{t}")
        assert not set(writes) & before[t], f"{t} was not republished"
        assert 1 <= len(writes) <= 2, (t, writes)
        assert max(writes.values()) <= N_BUCKETS, (t, writes)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_labels_delta_publish_leaves_untouched_partitions(spark, tmp_path):
    """VERDICT r2 item 5: the labels table is hash-partitioned by
    cluster_id; an increment rewrites ONLY partitions holding a changed
    component. Untouched partitions' parquet files must remain the exact
    same files (path + mtime + size), while the table content still
    equals the full union recompute."""
    import os

    from mediaduplicatefinder_spark.datagen.pages import generate_pages

    db = "incr_delta_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store3"))

    a, _ = generate_pages(n_docs=200, seed=42, min_words=30, max_words=120)
    b, _ = generate_pages(n_docs=40, seed=777, min_words=30, max_words=120)
    assert not (set(a.url) & set(b.url))  # append-only identity contract

    ingest_batch(spark, spark.createDataFrame(a), db)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {db}.labels")
        .filter(F.col("col_name") == "Location")
        .first()
        .data_type
    ).removeprefix("file:")

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(loc):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = snapshot()
    assert before, "first increment must have published label partitions"

    r2 = ingest_batch(spark, spark.createDataFrame(b), db)
    after = snapshot()

    # batch B's components are disjoint from batch A's, so only the
    # partitions owning B's new cluster ids may change
    from mediaduplicatefinder_spark.incremental import N_LABEL_PARTS, _label_part

    touched = {
        r.part
        for r in r2.labels.filter(F.col("url").isin(b.url.tolist()))
        .select(_label_part(F.col("cluster_id")).alias("part"))
        .distinct()
        .collect()
    }
    assert touched and len(touched) < N_LABEL_PARTS

    def part_of(path: str) -> int:
        seg = [s for s in path.split(os.sep) if s.startswith("part=")]
        return int(seg[0].split("=")[1])

    untouched_before = {p: v for p, v in before.items() if part_of(p) not in touched}
    untouched_after = {p: v for p, v in after.items() if part_of(p) not in touched}
    assert untouched_before, "need at least one untouched partition for the claim"
    assert untouched_before == untouched_after  # same files, byte-identical stats

    # and the published table still equals the full recompute of the union
    got = _label_sets(spark.table(f"{db}.labels").collect())
    full = run_dedup(
        spark,
        spark.createDataFrame(a).unionByName(spark.createDataFrame(b)),
        DEFAULT_CONFIG,
    )
    want = _label_sets(full.similar_clusters.select("url", "cluster_id").collect())
    full.cleanup()
    assert got == want
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_recrawl_upsert_retracts_and_matches_full_recompute(spark, tmp_path):
    """VERDICT r2 item 8: a re-crawled url (changed content, singleton
    old state) retracts via the keyed row-level writer and re-ingests as
    new content; default mode fails fast instead of silently duplicating
    the identity. Post-state must equal a full recompute over the corpus
    with the url's LATEST content."""
    from mediaduplicatefinder_spark.datagen.pages import generate_pages
    from mediaduplicatefinder_spark.incremental import merge_delete_sql

    # the Iceberg-path writer statement is code, golden-pinned
    assert merge_delete_sql("cat.db.sigs", "url", "src") == (
        "MERGE INTO cat.db.sigs t USING src s "
        "ON t.url = s.url WHEN MATCHED THEN DELETE"
    )

    db = "incr_recrawl_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store4"))

    a, _ = generate_pages(n_docs=150, seed=42, min_words=30, max_words=120)
    ingest_batch(spark, spark.createDataFrame(a), db)

    in_labels = {r.url for r in spark.table(f"{db}.labels").collect()}
    singles = {
        r.cluster_id
        for r in spark.table(f"{db}.shas").filter("n_dups = 1").collect()
    }
    stored = {r.url for r in spark.table(f"{db}.sigs").select("url").collect()}
    u = sorted((stored & singles) - in_labels)[0]

    # batch B: u re-crawled with a donor page's content + fresh docs
    b, _ = generate_pages(n_docs=30, seed=888, min_words=30, max_words=120)
    recrawled = b.iloc[[0]].copy()
    recrawled["url"] = u
    batch_b = __import__("pandas").concat([recrawled, b.iloc[1:]], ignore_index=True)

    with pytest.raises(ValueError, match="already stored"):
        ingest_batch(spark, spark.createDataFrame(batch_b), db)
    ingest_batch(spark, spark.createDataFrame(batch_b), db, on_recrawl="upsert")

    # exactly one identity row for u, carrying the NEW content's signature
    rows = spark.table(f"{db}.sigs").filter(F.col("url") == u).collect()
    assert len(rows) == 1

    # full recompute over (A minus u's old crawl) + B == store state
    union = __import__("pandas").concat(
        [a[a.url != u], batch_b], ignore_index=True
    )
    full = run_dedup(spark, spark.createDataFrame(union), DEFAULT_CONFIG)
    want_labels = _label_sets(
        full.similar_clusters.select("url", "cluster_id").collect()
    )
    got_labels = _label_sets(spark.table(f"{db}.labels").collect())
    assert got_labels == want_labels

    from mediaduplicatefinder_spark.operators.extract import extracted_or_given_text

    docs = extracted_or_given_text(spark.createDataFrame(union), use_html=True)
    want_sha = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in docs.select(
            F.sha2(F.col("text").cast("binary"), 256).alias("sha256"), "url"
        )
        .groupBy("sha256")
        .agg(F.count("*").alias("n_dups"), F.min("url").alias("cluster_id"))
        .collect()
    }
    got_sha = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in spark.table(f"{db}.shas").collect()
    }
    full.cleanup()
    assert got_sha == want_sha
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_recrawl_clustered_and_grouped_urls_match_full_recompute(
    spark, tmp_path
):
    """Round 3 closes the clustered-url retraction gap: re-crawling a
    url that is (a) a SIMILAR-cluster member and (b) an exact-group
    owner with remaining byte-identical members must retract via the
    member/edge ledgers (heir election + affected-component rebuild)
    and land exactly on the full-recompute state."""
    import pandas as pd

    from mediaduplicatefinder_spark.datagen.pages import generate_pages
    from mediaduplicatefinder_spark.operators.extract import (
        extracted_or_given_text,
    )

    db = "incr_clustered_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store5"))

    a, _ = generate_pages(n_docs=150, seed=42, min_words=30, max_words=120)
    ingest_batch(spark, spark.createDataFrame(a), db)

    labels0 = spark.table(f"{db}.labels").collect()
    in_labels = {r.url for r in labels0}
    comp = {}
    for r in labels0:
        comp.setdefault(r.cluster_id, set()).add(r.url)
    # (a) a similar-cluster member from a component of size >= 2
    big = [c for c, urls in comp.items() if len(urls) >= 2]
    assert big, "corpus must contain a similar cluster"
    u_sim = sorted(comp[big[0]])[-1]  # not the min -> exercises rebuild
    # (b) an exact-group owner with n_dups >= 2 (heir exists)
    owners = {
        r.cluster_id
        for r in spark.table(f"{db}.shas").filter("n_dups >= 2").collect()
    }
    stored_sigs = {
        r.url for r in spark.table(f"{db}.sigs").select("url").collect()
    }
    u_own = sorted((owners & stored_sigs) - {u_sim})[0]

    # also the min-url of a similar component (cluster ids must re-min)
    u_min = sorted(comp[big[-1]])[0] if len(big) > 1 else None
    re_set = [u for u in {u_sim, u_own, u_min} if u]

    b, _ = generate_pages(n_docs=20, seed=777, min_words=30, max_words=120)
    recrawled = b.iloc[: len(re_set)].copy()
    recrawled["url"] = re_set
    batch_b = pd.concat([recrawled, b.iloc[len(re_set):]], ignore_index=True)
    ingest_batch(spark, spark.createDataFrame(batch_b), db, on_recrawl="upsert")

    # ---- full recompute over (A minus re-crawled old rows) + B
    union = pd.concat([a[~a.url.isin(re_set)], batch_b], ignore_index=True)
    full = run_dedup(spark, spark.createDataFrame(union), DEFAULT_CONFIG)
    want_labels = _label_sets(
        full.similar_clusters.select("url", "cluster_id").collect()
    )
    got_labels = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )
    assert got_labels == want_labels

    docs = extracted_or_given_text(spark.createDataFrame(union), use_html=True)
    want_sha = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in docs.select(
            F.sha2(F.col("text").cast("binary"), 256).alias("sha256"), "url"
        )
        .groupBy("sha256")
        .agg(F.count("*").alias("n_dups"), F.min("url").alias("cluster_id"))
        .collect()
    }
    got_sha = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in spark.table(f"{db}.shas").collect()
    }
    full.cleanup()
    assert got_sha == want_sha

    # member ledger mirrors the union identity set exactly
    got_members = {
        (r.sha256, r.url) for r in spark.table(f"{db}.members").collect()
    }
    want_members = {
        (r.sha256, r.url)
        for r in docs.select(
            F.sha2(F.col("text").cast("binary"), 256).alias("sha256"), "url"
        ).collect()
    }
    assert got_members == want_members


def test_recrawl_splits_cut_vertex_component(spark, tmp_path):
    """The failure mode the edge ledger exists for: component A-B-C
    where B is the only bridge. Star edges (A<-B, A<-C) would keep A
    and C 'connected' after B's retraction; the TRUE edge rebuild must
    split them. All tokens are 4 chars (the reference's len>2 token
    rule keeps them); word-set Jaccard: J(A,B)=J(B,C)=80/120≈0.67
    (> 0.6), J(A,C)=60/140≈0.43 (< 0.6)."""
    import datetime

    import pandas as pd

    base = [f"w{i:03d}" for i in range(100)]
    b_words = list(base)
    for i in range(20):
        b_words[i] = f"xx{i:02d}"
    c_words = list(b_words)
    for i in range(20, 40):
        c_words[i] = f"yy{i:02d}"

    def page(url, words):
        return {
            "url": url,
            "warc_ts": datetime.datetime(2026, 1, 1),
            "lang": "en",
            "text": " ".join(words),
        }

    fillers = [
        page(f"https://f{k}.example/", [f"f{k}a{i:03d}" for i in range(60)])
        for k in range(4)
    ]
    a_df = pd.DataFrame(
        [
            page("https://a.example/", base),
            page("https://b.example/", b_words),
            page("https://c.example/", c_words),
        ]
        + fillers
    )

    db = "incr_cut_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store6"))
    ingest_batch(spark, spark.createDataFrame(a_df), db, use_html=False)

    got0 = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )
    assert got0 == {
        "https://a.example/": frozenset(
            {"https://a.example/", "https://b.example/", "https://c.example/"}
        )
    }, "precondition: one chain component via the bridge B"

    # re-crawl B with unrelated content
    batch_b = pd.DataFrame(
        [page("https://b.example/", [f"zz{i:03d}" for i in range(80)])]
    )
    ingest_batch(
        spark,
        spark.createDataFrame(batch_b),
        db,
        use_html=False,
        on_recrawl="upsert",
    )

    got = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )
    assert got == {}, "A and C must split apart once the bridge is gone"

    # and the full-recompute cross-check
    union = pd.concat(
        [a_df[a_df.url != "https://b.example/"], batch_b], ignore_index=True
    )
    full = run_dedup(
        spark, spark.createDataFrame(union), DEFAULT_CONFIG, use_html=False
    )
    want = _label_sets(
        full.similar_clusters.select("url", "cluster_id").collect()
    )
    full.cleanup()
    assert want == got


def test_incremental_128bit_profile_matches_full_recompute(
    spark, corpus, tmp_path
):
    """The 128-bit doc-key profile (10^12-doc collision bound) now runs
    through the incremental store too: sigs/bands carry doc_key2, the
    new-old candidate join keys on both halves, retraction deletes on
    the composite key. Two increments + a re-crawl upsert must equal
    the full recompute under the SAME config."""
    from mediaduplicatefinder_spark.config import EngineConfig

    cfg = EngineConfig(doc_key_bits=128)
    a, b = corpus
    db = "incr_128_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store128"))

    ingest_batch(spark, spark.createDataFrame(a), db, cfg=cfg)
    assert "doc_key2" in spark.table(f"{db}.sigs").columns
    assert "doc_key2" in spark.table(f"{db}.bands").columns
    r2 = ingest_batch(spark, spark.createDataFrame(b), db, cfg=cfg)
    got = _label_sets(r2.labels.select("url", "cluster_id").collect())

    full = run_dedup(
        spark,
        spark.createDataFrame(a).unionByName(spark.createDataFrame(b)),
        cfg,
    )
    want = _label_sets(
        full.similar_clusters.select("url", "cluster_id").collect()
    )
    full.cleanup()
    assert got == want

    # re-crawl a stored url with fresh content under the same profile
    import pandas as pd

    u = sorted(set(a.url))[0]
    from mediaduplicatefinder_spark.datagen.pages import generate_pages

    c, _ = generate_pages(n_docs=5, seed=555, min_words=30, max_words=120)
    re_row = c.iloc[[0]].copy()
    re_row["url"] = u
    batch_c = pd.concat([re_row, c.iloc[1:]], ignore_index=True)
    ingest_batch(
        spark, spark.createDataFrame(batch_c), db, cfg=cfg, on_recrawl="upsert"
    )
    union = pd.concat(
        [pd.concat([a[a.url != u], b.loc[b.url != u]]), batch_c],
        ignore_index=True,
    )
    full2 = run_dedup(spark, spark.createDataFrame(union), cfg)
    want2 = _label_sets(
        full2.similar_clusters.select("url", "cluster_id").collect()
    )
    got2 = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )
    full2.cleanup()
    assert got2 == want2
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_recrawl_in_capped_hot_bucket_stays_connected(spark, tmp_path):
    """Docstring claim pinned: in a uniformly-similar >cap bucket the
    recorded chain+star edges bridge the removal of any single member —
    retracting a chain-middle member AND (second round) the star center
    must leave the remaining docs one component, equal to the full
    recompute under the same capped config."""
    import datetime

    import pandas as pd

    from mediaduplicatefinder_spark.config import EngineConfig

    cfg = EngineConfig(bucket_cap=4)

    base = [f"w{i:03d}" for i in range(100)]

    def page(url, words):
        return {
            "url": url,
            "warc_ts": datetime.datetime(2026, 1, 1),
            "lang": "en",
            "text": " ".join(words),
        }

    # 8 docs, pairwise J = 90/110 ≈ 0.82 > 0.6 (each differs from base
    # in a disjoint 10-word patch) -> uniformly-similar hot bucket
    rows = []
    for k in range(8):
        words = list(base)
        for i in range(10):
            words[k * 10 + i] = f"p{k}q{i:02d}"
        rows.append(page(f"https://h{k}.example/", words))
    a_df = pd.DataFrame(rows)

    db = "incr_cap_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store7"))
    ingest_batch(spark, spark.createDataFrame(a_df), db, cfg=cfg, use_html=False)

    got0 = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )
    assert len(got0) == 1 and len(next(iter(got0.values()))) == 8

    def recrawl(url, seed_tag, remaining_df):
        batch = pd.DataFrame(
            [page(url, [f"{seed_tag}{i:03d}" for i in range(80)])]
        )
        ingest_batch(
            spark,
            spark.createDataFrame(batch),
            db,
            cfg=cfg,
            use_html=False,
            on_recrawl="upsert",
        )
        union = pd.concat(
            [remaining_df[remaining_df.url != url], batch], ignore_index=True
        )
        full = run_dedup(
            spark, spark.createDataFrame(union), cfg, use_html=False
        )
        want = _label_sets(
            full.similar_clusters.select("url", "cluster_id").collect()
        )
        full.cleanup()
        got = _label_sets(
            spark.table(f"{db}.labels").select("url", "cluster_id").collect()
        )
        assert got == want
        return union

    # chain-middle member first, then the star center (bucket min url)
    union1 = recrawl("https://h4.example/", "zza", a_df)
    sizes = sorted(len(v) for v in _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    ).values())
    assert sizes == [7], "remaining hot-bucket docs must stay one component"
    recrawl("https://h0.example/", "zzb", union1)
    sizes = sorted(len(v) for v in _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    ).values())
    assert sizes == [6]
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_legacy_store_without_ledgers_fails_descriptively(
    spark, corpus, tmp_path
):
    """A store created before the member/edge ledgers (sigs-only schema)
    cannot support re-crawl detection and cannot be backfilled (members
    holds exact-dup urls that never reached sigs) — the second ingest
    must fail with the actual cause, not a table-not-found mid-join."""
    a, b = corpus
    db = "incr_legacy"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store_legacy"))
    ingest_batch(spark, spark.createDataFrame(a), db)
    # simulate the pre-ledger schema
    spark.sql(f"DROP TABLE {db}.members")
    spark.sql(f"DROP TABLE {db}.edges")
    with pytest.raises(ValueError, match="predates the member/edge"):
        ingest_batch(spark, spark.createDataFrame(b), db)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_interleaved_batches_migrate_graph_ownership(spark, tiny_corpus, tmp_path):
    """Round-4 regression: an INTERLEAVED batch split delivers
    byte-identical twins out of url order — when the smaller-url twin
    arrives after its sha is already stored, similarity-graph ownership
    must MIGRATE to it (delete the old owner's sig/band rows, relabel
    its edges), or both twins enter the graph linked at jaccard 1.0 and
    the label relation diverges from the full recompute."""
    pages, _ = tiny_corpus
    db = "incr_interleave"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store_il"))
    for i in range(3):
        ingest_batch(spark, spark.createDataFrame(pages.iloc[i::3]), db)
    got = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )
    full = run_dedup(spark, spark.createDataFrame(pages), DEFAULT_CONFIG)
    want = _label_sets(
        full.clusters.filter("kind = 'SIMILAR'")
        .select("url", "cluster_id")
        .collect()
    )
    full.cleanup()
    assert got == want
    # exactly one sig row per sha group, owned by the GLOBAL min url
    sig_urls = {r.url for r in spark.table(f"{db}.sigs").select("url").collect()}
    want_owners = {
        r.url
        for r in spark.createDataFrame(pages)
        .selectExpr("sha2(cast(text as binary), 256) sha", "url")
        .groupBy("sha")
        .agg(F.min("url").alias("url"))
        .collect()
    }
    assert sig_urls == want_owners
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_ingest_reports_capped_buckets(spark, tmp_path):
    """An increment whose batch fills a bucket past ``bucket_cap``
    reports it on its IngestResult with the batch pass's own counts; the
    next increment, with no hot bucket, reports zero."""
    import datetime

    import pandas as pd

    from mediaduplicatefinder_spark.config import EngineConfig

    cfg = EngineConfig(bucket_cap=2)
    body = "same boilerplate text for every page here with shared words"

    def pages(urls, texts):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": [datetime.datetime(2026, 1, 1)] * len(urls),
                    "lang": ["en"] * len(urls),
                    "text": texts,
                }
            )
        )

    flood = pages(
        [f"u://flood{i}" for i in range(4)],
        [f"{body} variant{i}" for i in range(4)],
    )
    db = "incr_capped_metrics_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    init_store(spark, db, location=str(tmp_path / "store"))
    r1 = ingest_batch(spark, flood, db, cfg=cfg, use_html=False)

    full = run_dedup(spark, flood, cfg, use_html=False)
    m = full.metrics.collect()[0]
    full.cleanup()
    assert r1.capped_buckets > 0
    assert (r1.capped_buckets, r1.capped_docs) == (m.capped_buckets, m.capped_docs)

    lone = pages(["u://lone"], ["an unrelated page about something else entirely"])
    r2 = ingest_batch(spark, lone, db, cfg=cfg, use_html=False)
    assert (r2.capped_buckets, r2.capped_docs) == (0, 0)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
