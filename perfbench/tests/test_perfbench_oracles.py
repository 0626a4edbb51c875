import itertools

import numpy as np

from csxj_crawler_spark.fixtures.simulator import canon_py
from perfbench import oracles


def test_keep_first_brute_force_matches_pairwise_rule():
    rng = np.random.RandomState(3)
    base = rng.randint(-2**63, 2**63 - 1, size=60, dtype=np.int64)
    # near-duplicates: flip a few bits of earlier hashes
    near = [int(base[i] ^ np.int64(1 << int(b))) for i, b in zip(range(20), rng.randint(0, 63, 20))]
    hashes = [int(h) for h in base] + near
    ids = [f"img{k:03d}" for k in rng.permutation(len(hashes))]

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    want = {ids[j] for j in range(len(ids))
            if not any(ids[i] < ids[j] and ham(hashes[i], hashes[j]) <= 6
                       for i in range(len(ids)))}
    assert oracles.keep_first_brute_force(ids, hashes, chunk=7) == want
    assert len(want) < len(ids)


def test_banded_keep_first_needs_a_shared_band():
    a = 0x1111_2222_3333_4444
    one_per_band = a ^ 0x0001_0001_0001_0001  # distance 4, every band differs
    two_in_one = a ^ 0x0003_0000_0000_0000  # distance 2, three bands agree
    ids = ["a", "b", "c"]
    hashes = [a, one_per_band, two_in_one]
    assert oracles.keep_first_brute_force(ids, hashes) == {"a"}
    assert oracles.keep_first_brute_force(ids, hashes, band_bits=16) == {"a", "b"}


def test_popcount64_counts_bits():
    x = np.array([0, 1, 3, -1, 1 << 40], dtype=np.int64)
    assert oracles.popcount64(x).tolist() == [0, 1, 2, 64, 1]


def test_union_find_clusters_closes_chains():
    got = oracles.union_find_clusters(range(7), [(5, 6), (3, 5), (1, 2)])
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 3, 6: 3}


def test_retraction_pick_is_deterministic_and_order_free():
    urls = [f"http://h/{i}" for i in range(50)]
    a = oracles.retraction_pick(urls, 5)
    assert a == oracles.retraction_pick(list(reversed(urls)), 5)
    assert len(a) == 5 and list(itertools.islice(a, 5)) == a


def test_retract_seeds_drops_every_row_of_a_picked_url():
    seeds = [{"url": f"http://h{i % 7}.example/p{i}", "seed_rank": i} for i in range(100)]
    # the same canonical URLs again, spelled differently
    seeds += [{"url": f"HTTP://H{i % 7}.EXAMPLE/p{i}", "seed_rank": 100 + i} for i in range(100)]
    picked, left = oracles.retract_seeds(seeds, 0.05)
    canon = {canon_py(r["url"]) for r in seeds}
    assert len(picked) == 5 and set(picked) <= canon
    assert picked == oracles.retraction_pick(canon, 5)
    assert len(left) == len(seeds) - 2 * len(picked)
    assert not {canon_py(r["url"]) for r in left} & set(picked)
