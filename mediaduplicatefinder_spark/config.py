"""Engine configuration.

Every threshold/seed the pipeline depends on lives here so results are
deterministic and cluster-size-invariant (BASELINE.json north_rule: the
N vs 4N scaling check must be apples-to-apples).

Thresholds mirror the reference exactly (SURVEY.md §2.2 F8):

- ``jaccard_threshold`` 0.6  — text similarity gate  (main_cli.cpp:312)
- ``hamming_threshold`` 15   — mean 64-bit fingerprint distance (main_cli.cpp:239)
- ``size_ratio_min``    0.3  — document size prefilter (main_cli.cpp:297-299)
- ``name_sim_threshold`` 0.7 — name shortcut in the doc dispatcher (main_cli.cpp:304)
- ``tfidf_threshold``   0.6  — office TF-IDF cosine (office_comparer_batch.py:204,213)
- token length filter > 2 after alnum-strip (main_cli.cpp:280)

The media rules' literals (audio name > 0.9, archive size > 0.8 and
name > 0.6, main_cli.cpp:256,325) sit with the operators and queries
that apply them (operators/similarity.py, __spark_entry__.py).

Every field here is read by the engine (guarded by
tests/test_config_fields.py): ``run_dedup`` has one composition, and a
knob that nothing reads is deleted rather than kept as a default-off
mode.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # ---- reference parity thresholds (do not change: recall >= 0.99 bar) ----
    jaccard_threshold: float = 0.6
    hamming_threshold: int = 15
    size_ratio_min: float = 0.3
    name_sim_threshold: float = 0.7
    use_name_shortcut: bool = False  # P7 (main_cli.cpp:304-308): url-stem
    # char-bag sim > name_sim_threshold short-circuits Jaccard in the
    # verify stage (similar=True, score=name_sim). OFF for the webtext
    # profile: synthetic url slugs degenerate the char-bag metric
    # (SURVEY.md P8 note); file-path-like corpora turn it on.
    tfidf_threshold: float = 0.6
    min_token_len: int = 3  # "len > 2" (main_cli.cpp:280)

    # ---- engine-new signature parameters (SURVEY.md §7 step 3) ----
    shingle_k: int = 1          # k=1: MinHash over the token SET, estimating
    # exactly the reference's token-set Jaccard (main_cli.cpp:285-294);
    # raise to 3+ for order-sensitive web-scale shingling profiles.
    max_lines: int = 50         # first-50-lines truncation (main_cli.cpp:260-270)
    minhash_rows: int = 4       # r rows per band
    minhash_bands: int = 32     # b bands  -> num_perm = r*b = 128
    # P(candidate | J) = 1-(1-J^r)^b : J=0.62 -> 0.993, J=0.65 -> 0.997,
    # J=0.85 -> 0.99999998; the >0.6 reference threshold means true pairs
    # sit above 0.6, so LSH recall clears the 0.99 bar (verified in tests).
    minhash_seed: int = 0x5EED_0001
    simhash_seeds: tuple[int, int] = (0x5EED_A11A, 0x5EED_D11F)
    # two independent 64-bit SimHashes play the aHash/dHash pair roles
    # (main_cli.cpp:161-209): similar iff mean Hamming <= 15 (main_cli.cpp:239).
    # They are fingerprints only, not an LSH band channel: the text gate
    # is Jaccard, so the MinHash bands above are the one candidate channel.

    # ---- scale / skew knobs (SURVEY.md §4.3) ----
    doc_key_bits: int = 64  # 64 or 128. The hot path keys docs by
    # doc_key = xxhash64(url); the expected number of colliding url
    # pairs is ~ n^2/2^65: immaterial at bench scale (n=1e5 -> 3e-10),
    # a ~2.7% chance of any collision at n=10^9, ~2.7 collisions at
    # n=10^10 and ~2.7e4 at n=10^12. So the 10^12-doc profile sets 128:
    # a second independent column doc_key2 = xxhash64(url, 1) rides
    # every band row / pair / verify join (two flat int64 columns, not a
    # struct — same plan shape, plan-tested; struct keys would force
    # per-element python in the numpy bucket expansion). Expected pairs
    # colliding on BOTH ~ n^2/2^129 (~1.5e-15 at n=10^12).
    # (shuffle width is a SESSION property, not an engine constant:
    # session.get_spark(shuffle_partitions=...) owns it — a duplicate
    # knob here was dead and got removed, VERDICT r2 item 6)
    bucket_cap: int = 256         # max docs per (band, hash) LSH bucket before
    # the pair generator switches to CHAIN mode (adjacent-by-url edges, O(n)
    # per bucket). Dup-PAIR recall is counted on cluster co-membership
    # (north_rule: "matching the reference's cluster assignments"), which
    # chain edges + connected components preserve for single-cluster hot
    # buckets — the dominant skew case (boilerplate farms).
    cc_max_iterations: int = 20   # connected-components driver loop bound
    cc_reliable_checkpoint: bool = False  # localCheckpoint stores blocks on
    # executors and LOSES them on executor failure; cluster deployments
    # set True (+ spark.sparkContext.setCheckpointDir) so CC rounds
    # checkpoint to reliable storage and survive executor loss.

    @property
    def num_perm(self) -> int:
        return self.minhash_rows * self.minhash_bands


DEFAULT_CONFIG = EngineConfig()
