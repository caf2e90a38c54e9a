"""Streaming dedup to CLUSTERS — the streaming LSH state operator's
candidates feeding the incremental store's verify/merge.

Round-3 VERDICT item 6: ``streaming_lsh_candidates`` (lshstate.py, E24)
stopped at candidate pairs, but the reference's whole job is GROUPS
(duplicate_gui cluster view).  This driver closes the loop:

- ONE streaming query self-unions two branches over the same source —
  the raw page rows (tagged ``kind='page'``) and the stateful LSH
  candidate pairs they produce (tagged ``kind='pair'``).  A micro-batch
  therefore delivers a batch of pages TOGETHER WITH every candidate
  pair those pages formed (against each other and against all state
  from earlier batches) to a single ``foreachBatch`` transaction.
- the batch callback runs ``incremental.ingest_batch(candidates=...)``:
  exact pass vs the sha ledger, the SAME verify stage as the batch
  pipeline over (batch survivors ∪ stored sigs), edge merge, connected
  components over (old label star edges ∪ new edges), delta label
  publish.  The store-side band joins are skipped — candidate
  generation lives in Spark's state store, verification and group
  state live in the table store.

Parity: with no bucket overflowing ``cfg.bucket_cap``, the streamed
final ``labels`` table equals a from-scratch ``run_dedup`` over the
union of all batches (pytest, the E20 parity pattern).  Overflowing
buckets diverge by design: the state operator drops arrivals past the
cap (marker rows) while the batch kernel switches to chain+star pairs
— both bounded, differently shaped; re-verify hot components on a slow
cadence as the incremental module documents.  The markers are kept:
every batch appends its capped buckets to ``{db}.lsh_overflow``.

Delivery semantics: the checkpoint makes the QUERY exactly-once, but
``ingest_batch`` appends are not idempotent under a mid-write crash —
a replayed batch is caught by the store's re-crawl detection (the urls
are already members), so the default ``on_recrawl='error'`` surfaces
the replay instead of double-ingesting; production catalogs make the
publish itself transactional (Iceberg MERGE, ledger.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.incremental import ingest_batch
from mediaduplicatefinder_spark.streaming.lshstate import (
    streaming_lsh_candidates,
)


def streaming_dedup(
    spark: SparkSession,
    pages: DataFrame,
    db: str,
    checkpoint: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    on_recrawl: str = "error",
):
    """pages stream -> started streaming query that maintains the
    incremental store's cluster state (labels/edges/sigs/shas tables)
    batch by batch.  ``awaitTermination()`` with availableNow to drain;
    read ``{db}.labels`` for the current groups.  Arrivals the bucket
    cap dropped are appended to ``{db}.lsh_overflow`` (batch_id, lang,
    band, bh, n_dropped = the bucket's cumulative drops), one row per
    capped bucket per batch; no table means nothing was dropped."""
    page_rows = pages.select(
        F.lit("page").alias("kind"),
        "url",
        "warc_ts",
        "text",
        "lang",
        F.lit(None).cast("long").alias("key_a"),
        F.lit(None).cast("long").alias("key_b"),
    )
    # pair rows and the state operator's overflow markers (null keys)
    pair_rows = streaming_lsh_candidates(pages, cfg).select(
        F.when(F.col("key_a").isNull(), "overflow")
        .otherwise("pair")
        .alias("kind"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("string").alias("text"),
        "lang",
        "key_a",
        "key_b",
        "band",
        "bh",
        "n_dropped",
    )
    unioned = page_rows.unionByName(pair_rows, allowMissingColumns=True)

    def _merge(df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands a DataFrame bound to a CLONED session; run
        # the ENTIRE ingest through that session — mixing it with the
        # outer session makes table reads observe stale snapshots of the
        # tables earlier micro-batches republished
        sess = df.sparkSession
        df = df.persist()
        batch_pages = df.filter("kind = 'page'").select(
            "url", "warc_ts", "text", "lang"
        )
        if not batch_pages.take(1):
            df.unpersist()
            return
        pairs = df.filter("kind = 'pair'").select("lang", "key_a", "key_b")
        ingest_batch(
            sess,
            batch_pages,
            db,
            cfg,
            use_html=False,
            on_recrawl=on_recrawl,
            candidates=pairs,
        )
        overflow = df.filter("kind = 'overflow'").select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "lang",
            "band",
            "bh",
            "n_dropped",
        )
        if overflow.take(1):
            overflow.write.mode("append").saveAsTable(f"{db}.lsh_overflow")
        # the ingest REPLACED label partitions and the shas table: drop
        # the cached file listings in BOTH sessions so the next
        # micro-batch and the driver's readers list the new files
        for t in ("labels", "shas"):
            sess.catalog.refreshTable(f"{db}.{t}")
            spark.catalog.refreshTable(f"{db}.{t}")
        df.unpersist()

    return (
        unioned.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
