"""Generator and oracle checks for the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import statistics
from collections import Counter
from itertools import combinations

import pandas as pd

from perfbench import gen, oracle

ROWS = 1500


def test_same_seed_same_rows():
    a, b = gen.drift_chains(7, ROWS), gen.drift_chains(7, ROWS)
    pd.testing.assert_frame_equal(a.rows, b.rows)
    assert a.chains == b.chains
    assert not gen.drift_chains(8, ROWS).rows.equals(a.rows)


def test_chain_neighbours_meet_caption_rule():
    dc = gen.drift_chains(3, ROWS)
    caption = dict(zip(dc.rows["image_id"], dc.rows["caption"]))
    for chain in dc.chains:
        for x, y in zip(chain, chain[1:]):
            grams_x, grams_y = gen.char_grams(caption[x]), gen.char_grams(caption[y])
            assert gen.jaccard(grams_x, grams_y) >= gen.CAPTION_RULE
            assert caption[x] != caption[y]


def test_chain_members_share_no_phash():
    dc = gen.drift_chains(3, ROWS)
    phash = dict(zip(dc.rows["image_id"], dc.rows["phash"]))
    for chain in dc.chains:
        for x, y in combinations(chain, 2):
            assert gen.hamming64(int(phash[x]), int(phash[y])) > gen.PHASH_RULE


def test_chain_lengths_follow_spread():
    lengths = [len(c) for seed in range(4) for c in gen.drift_chains(seed, ROWS).chains]
    assert min(lengths) == gen.CHAIN_MIN and max(lengths) == gen.CHAIN_MAX
    # uniform over [2, 32]: mean 17, and every length turns up
    assert abs(statistics.mean(lengths) - 17) < 2.5
    assert set(Counter(lengths)) == set(range(gen.CHAIN_MIN, gen.CHAIN_MAX + 1))


def test_min_id_can_sit_inside_a_chain():
    dc = gen.drift_chains(5, ROWS)
    assert dc.rows["image_id"].is_unique
    assert any(0 < c.index(min(c)) < len(c) - 1 for c in dc.chains)


def test_worst_case_chain_pins_cc_rounds():
    for seed in range(3):
        first = gen.drift_chains(seed, ROWS).chains[0]
        assert len(first) == gen.CHAIN_MAX and first[0] == min(first)


def test_stream_batches_partition_rows():
    rows = gen.synth_rows(1, 400)
    parts = gen.stream_batches(rows, 4)
    assert sum(len(p) for p in parts) == len(rows)
    assert set().union(*(set(p["image_id"]) for p in parts)) == set(rows["image_id"])


def test_union_find_oracle_compares_membership():
    ids = ["a", "b", "c", "d"]
    expected = oracle.union_find_groups(ids, [("a", "b"), ("c", "b")])
    assert oracle.cluster_mismatch({"a": 0, "b": 0, "c": 0, "d": 1}, expected) == 0
    # same cluster COUNT, different membership: caught
    assert oracle.cluster_mismatch({"a": 0, "b": 0, "c": 1, "d": 1}, expected) == 2
    assert oracle.membership_hash({"a": 5, "b": 5}) == oracle.membership_hash({"b": 9, "a": 9})
