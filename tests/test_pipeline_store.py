"""``run_dedup(store=...)`` — the resume mode — is the same composition
as a plain ``run_dedup``: same cluster rows, and a rerun over a finished
store reloads every stage and reports the same metrics row."""

from __future__ import annotations

from mediaduplicatefinder_spark.ledger import StageStore
from mediaduplicatefinder_spark.pipeline import run_dedup

STAGES = {"grouped", "exact_clusters", "bucket_metrics", "candidates", "pairs", "clusters"}


class _RecordingStore(StageStore):
    """A StageStore that lists the stages it had to build and save."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.saved: list[str] = []

    def save(self, stage, df, wall_sec):
        self.saved.append(stage)
        return super().save(stage, df, wall_sec)


def _clusters_key(df) -> list[tuple]:
    return sorted(
        (r.url, r.cluster_id, r.kind, round(r.score, 9), r.is_keeper)
        for r in df.collect()
    )


def test_store_mode_matches_plain_run_and_resumes_without_recompute(
    spark, tiny_pages_df, tmp_path
):
    plain = run_dedup(spark, tiny_pages_df)
    want = _clusters_key(plain.clusters)
    want_metrics = plain.metrics.collect()[0].asDict()
    plain.cleanup()
    assert {k[2] for k in want} == {"EXACT", "SIMILAR"}
    assert want_metrics["max_bucket"] > 0

    root = str(tmp_path / "store")
    store = _RecordingStore(spark, root)
    first = run_dedup(spark, tiny_pages_df, store=store)
    assert _clusters_key(first.clusters) == want
    assert first.metrics.collect()[0].asDict() == want_metrics
    first.cleanup()
    assert set(store.saved) == STAGES
    done = {e["stage"]: e["finished_at"] for e in store.lineage()}
    assert set(done) == STAGES

    # rerun on the finished store: every stage is reloaded, none rebuilt
    store = _RecordingStore(spark, root)
    again = run_dedup(spark, tiny_pages_df, store=store)
    assert _clusters_key(again.clusters) == want
    assert again.metrics.collect()[0].asDict() == want_metrics
    again.cleanup()
    assert store.saved == []
    assert {e["stage"]: e["finished_at"] for e in store.lineage()} == done
