"""scripts/soak.py at a toy size: every registry entry runs once on the
shared session, over the sf0.001 sibling of bench.py's SF_DIR, and every
sanity check holds.

Sizes keep each derived check non-trivial: three replicas keep q93's
"more than half dropped" reachable (two cap it at exactly half);
n_big = 100k still gives q112 a 10k budget over 2,500 hosts and q114
250 planted pairs; q101 runs at 500k, the smallest n_big at which its
session hosts reach min_distinct = 500 URLs (200 traps, not 0)."""

import importlib.util
import os

import pytest

REPLICAS = 3
N_BIG = 100_000
N_BIG_Q101 = 500_000

# every key the per-round soak scripts printed (r8's kmeans_k64_s timed
# the same clustering as q92_kmeans_s and is not printed any more)
OLD_KEYS = """
sf n_docs gen_s n_vectors
q49_s q49_rows q49_spans q49_removed q47_s q47_pairs q47_nodes q47_components
q51_s q51_survivors q51_splits
q63_s q63_rows q63_dup_spans q20_pairs q20_s q68_merges q68_s q70_s q70_terms
q70_total_tf q71_s q71_rows
q81_cms_s q81_terms q82_quantiles_s q82_median_n_chars q83_shards_s q83_n_shards
flac_clips flac_decode_s flac_samples_per_s
q85_winnow_s q85_fingerprints q85_density q86_overlap_s q86_pairs q89_cc_s
q89_clustered_docs q89_clusters q87_remove_s q87_removed_frac q96_nb_s
q96_predicted_keep_frac q92_kmeans_s q92_vectors q93_semdedup_s q93_dropped
q98_pack_s q98_sequences q99_chunk_dedup_s q99_docs_out q99_dropped_frac
q100_redirects_s q100_chains q100_max_hops q101_traps_exact_s q101_traps_exact
q101_traps_approx_s q101_traps_approx q105_diff_s q105_changed q105_unchanged
q105_new q105_gone q108_hits_s q108_nodes
q112_domain_pop_s q112_popped q112_mega_share_bp q113_bfs_s q113_reached
q113_eccentricity q114_mirrors_s q114_pairs q115_vocab q115_max_score_s
q117_merge_s q117_terms q117_parity_mismatches
q122_badwords_s q122_dropped q124_layout_s q124_seq_scan_bp q124_rand_scan_bp
q126_terms q126_incremental_s q126_full_rebuild_s q126_parity_mismatches
semdedup_label_reuse_s semdedup_dropped kmeans_k256_table_s
""".split()


@pytest.fixture(scope="module")
def soak():
    path = os.path.join(os.path.dirname(__file__), "..", "scripts", "soak.py")
    spec = importlib.util.spec_from_file_location("soak", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_soak_registry_toy_run(spark, soak):
    """All entries at toy size; run() raises on any failed check."""
    sf_dir = os.path.join(os.path.dirname(soak.SF_DIR), "sf0.001")
    rest = [name for name in soak.REGISTRY if name != "q101"]
    out = soak.run(spark, rest, sf_dir=sf_dir, replicas=REPLICAS, n_big=N_BIG)
    assert out["sf"] == "sf0.001 x 3 replicas / 0.1M rows"
    q101 = soak.run(
        spark, ["q101"], sf_dir=sf_dir, replicas=REPLICAS, n_big=N_BIG_Q101
    )
    assert set(OLD_KEYS) <= set(out) | set(q101), set(OLD_KEYS) - set(out) - set(q101)
    # the derived checks are non-trivial at these sizes
    assert q101["q101_traps_exact"] == soak.q101_planted_traps(N_BIG_Q101) == 200
    assert out["q114_pairs"] == N_BIG // 200 // 2 == 250
    assert out["q112_popped"] == N_BIG // 10
    assert out["semdedup_dropped"] == out["q93_dropped"] > out["n_vectors"] // 2


def test_q101_planted_traps_law(soak):
    """The trap count the q101 check expects, at the sizes the old fixed
    assert ((n_big // 4000) // 5) only matched at 4M."""
    assert soak.q101_planted_traps(4_000_000) == 200
    assert soak.q101_planted_traps(2_000_000) == 200
    assert soak.q101_planted_traps(8_000_000) == 200
    assert soak.q101_planted_traps(499_000) == 0
    # 500,500 ids: hosts 0..495 reach 501 ids, hosts 500..995 only 500
    assert soak.q101_planted_traps(500_500) == 200
    assert soak.q101_planted_traps(499_500) == 100
