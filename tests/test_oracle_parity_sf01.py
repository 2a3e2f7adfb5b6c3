"""Opt-in sf0.1 oracle parity for the HEAVY query families (VERDICT r4
#6): the standard parity gate runs at sf0.001/sf0.01, but the sf1
claims-key int64 overflow (BASELINE.md) proved scale-DEPENDENT
wrongness exists — arithmetic that saturates, banding parameters that
flip on corpus size, rounding that only meets a boundary with enough
rows. This gate re-certifies the dedup / LM / retrieval / BPE /
profile families one decade up.

Env-gated because it costs minutes, not seconds:

    LAKEFLOW_PARITY_SF01=1 python -m pytest tests/test_oracle_parity_sf01.py -q

CI policy: run before any round that touched these families.
"""

from __future__ import annotations

import os

import pytest

from lakeflow import registry
from tests.oracle_harness import compare, duck_connection

SF01_DIR = "/root/testdata/sf0.1"

pytestmark = pytest.mark.skipif(
    os.environ.get("LAKEFLOW_PARITY_SF01") != "1",
    reason="opt-in: set LAKEFLOW_PARITY_SF01=1 (heavy — minutes at sf0.1)",
)

# the families whose oracles exercise scale-sensitive machinery:
# banding parameters keyed on corpus size, iterative argmax loops,
# float accumulation over 10× the rows, int arithmetic near overflow
HEAVY = [
    # silver transform: all 14 columns, the compiled date parse and the
    # quality gate over 10× the dirty-data cases
    "q_silver_pipeline",
    # dedup family
    "q_dedup_exact",
    "q_dedup_near",
    "q_dedup_incremental",
    "q_dedup_keep_best",
    "q_dedup_simhash",
    # cross-source dup-flow matrix (r8): pair volume and source mixing
    # are both corpus-size-sensitive; rides the certified banding
    "q_dup_matrix",
    # ensemble quality blend (r8): rank denominators and tie structure
    # are corpus-size-sensitive; the histogram-vs-window rank
    # derivations must agree over 10× the distinct values
    "q_quality_blend",
    # layout family (r8): z bucket boundaries and zone maps shift with
    # the 10x value ranges; the compaction cut points move with the
    # inventory; novelty's first-occurrence winners are corpus-global
    "q_zorder_layout",
    "q_skipping_gain",
    "q_compaction_plan",
    "q_ngram_novelty",
    # occupancy pricing (r8): bucket sizes are corpus-size-sensitive
    # (the whole point); length buckets: 10x the docs move the
    # boundary-hit population
    "q_lsh_occupancy",
    "q_length_buckets",
    # k-core (r8): the peeling trajectory depends on the whole graph's
    # degree structure; PMI (r8): marginals and the min-count floor
    # population shift with 10x the bigram stream
    "q_kcore",
    "q_pmi_bigrams",
    # tokenizer coverage (r8): at 10x the corpus the vocab passes the
    # step boundaries for real (no v_eff cap) and the boundary-class
    # interpolation must replay over a much denser count histogram
    "q_tokenizer_coverage",
    # epoch shuffle (r8): shard sizes (and therefore every row number)
    # scale with the corpus; the priority ordering must replay over
    # 50k docs
    "q_epoch_shuffle",
    # exact twins: the same components/split machinery over the
    # exhaustive pair list, closed by the exhaustive DuckDB oracle
    "q_dedup_clusters_exact",
    "q_dedup_embedding_exact",
    "q_cluster_split_exact",
    # the LSH DEFAULTS certify here too (r5 pairs, r6 clusters/split):
    # portable hyperplanes let the DuckDB oracle replay the banding
    # itself — and for the cluster family, run the transitive closure
    # over the REPLAYED pairs — so the ~17/920 borderline-pair misses
    # at this SF happen identically in both engines. The approximation
    # is certified, not just its exact twin.
    "q_dedup_embedding",
    "q_dedup_clusters",
    "q_cluster_split",
    "q_degree_dist",
    "q_triangles",
    # PageRank (r7): edge volume and hub structure are both
    # corpus-size-sensitive; the unrolled-loop replay rides the same
    # LSH banding as the cluster family
    "q_pagerank",
    # capped graph deployment twins (r9): sf0.1 is where the
    # bucket_cap=128 occupancy filter actually ENGAGES (14684 -> 12319
    # pairs; vacuous at sf0.001/sf0.01) — this gate is the non-vacuous
    # certification of the cap-replaying oracle
    "q_pagerank_capped",
    "q_kcore_capped",
    "q_ngram_jaccard",
    "q_containment_pairs",
    "q_winnow_fingerprints",
    "q_doc_fingerprint",
    # exact-substring span dedup (r6): span-count and duplicate volume
    # both scale with the corpus
    "q_span_dedup",
    # Bloom decontamination (r6): bitset occupancy — and therefore the
    # false-positive set — is corpus-size-sensitive by construction
    "q_bloom_decontam",
    # hashed linear classifier (r6): integer milli-sums over 10× the
    # features; certifies the order-free accumulation claim at scale
    "q_quality_classifier",
    # LM / scoring family
    "q_lm_perplexity",
    "q_dsir_weights",
    "q_token_entropy",
    "q_bpe_merges",
    "q_bpe_apply",
    # retrieval family
    "q_bm25",
    "q_rrf_fusion",
    "q_mmr_rerank",
    "q_knn_bruteforce",
    "q_knn_lsh",
    "q_knn_ivf",
    "q_knn_pandas",
    # int8 quantized ANN (r6): code/scale replay over 10× the vectors
    "q_knn_sq8",
    # PQ ANN (r6): codebook build + integer-micro ADC over 10× the
    # vectors (empty-code and assignment-flip risks scale with n)
    "q_knn_pq",
    # IVF-PQ composition (r7): coarse-pruned ADC — list-assignment
    # flips and probe-set membership are the scale-sensitive parts
    "q_knn_ivfpq",
    # deployment-resolution twin (r7): ks=64 codebooks mean 8× the
    # centroid-assignment ties to replay — more flip surface, same risk
    "q_knn_ivfpq_hi",
    # semantic dedup (r6): k-means seeds/means + within-cluster pair
    # volume are both corpus-size-sensitive
    "q_semdedup",
    # END-TO-END curation audit (r6): every stage's scale sensitivity
    # at once — the composition certifies a decade up or not at all
    "q_curation_audit",
    # the capped deployment twin (r8): at sf0.1's bucket occupancies
    # the cap=128 filter engages heavily — this is the SF where the
    # replayed-QUALIFY oracle and Spark's occupancy aggregate must
    # agree over thousands of over-cap buckets
    "q_curation_audit_capped",
    # profile/drift (float accumulation + quantile grids)
    "q_drift_ks",
    "q_drift_psi",
    "q_column_profile",
    # certified sketches (r6): collision profile (CM) and the
    # correction-branch flip (HLL raw vs linear counting) are both
    # cardinality-dependent — exactly what a decade up changes
    "q_cm_sketch",
    "q_hll_sketch",
    # retrieval mining (r6): BM25-bound over 10× the corpus
    "q_hard_negatives",
    # PCA family (r6): covariance cells + iterate roundings over 10×
    # the vectors — float-accumulation sensitivity is the whole risk
    "q_embed_pca",
    "q_embed_abtt",
    # sparse random projection (r7): signed double sums over 10× the
    # vectors — same float-accumulation risk class as the PCA family
    "q_embed_rp",
    # ANN recall certification (r7): one plan composing all four
    # approximate indexes + the brute-force ground truth — every
    # scale-sensitive sub-pipeline above, certified together
    "q_ann_recall",
    # mergeable quantile sketch (r7): grid width/bin-edge flips are
    # data-range-sensitive — a decade up changes min/max and every edge
    "q_quantile_hist",
    # per-source KL (r7): ln-term micro-unit sums over 10× the
    # vocabulary instances — float-portability risk scales with corpus
    "q_source_kl",
    # image dedup (r10): exact-hash collision structure is
    # corpus-size-sensitive (the collapse exists because of it); the
    # collapsed twin's group multiplicities grow with the decade
    "q_image_dedup",
    "q_image_dedup_collapsed",
    # fold-EWMA batch twin (r10): per-user sequences are 10× longer —
    # the left fold's float path and the decimal total both scale
    "q_user_stats_batch",
]

_missing = [n for n in HEAVY if n not in registry.ALL_QUERIES]
assert not _missing, f"stale HEAVY entries: {_missing}"
assert all(registry.ALL_QUERIES[n][1] for n in HEAVY), "HEAVY needs oracles"


@pytest.fixture(scope="module")
def duck01():
    con = duck_connection(SF01_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", HEAVY)
def test_heavy_parity_sf01(spark, duck01, name):
    fn, sql = registry.ALL_QUERIES[name]
    compare(fn(spark, SF01_DIR), duck01, sql, name)
