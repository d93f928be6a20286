"""Bloom + cuckoo shard tests (A1): zero false negatives, round-trips."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sitecheck_spark.seen import BloomShard, CuckooShard

_hashes = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500
)


@settings(max_examples=50, deadline=None)
@given(_hashes)
def test_bloom_zero_false_negatives(hs):
    b = BloomShard.sized_for(len(hs))
    b.add(hs)
    assert b.contains(hs).all()


def test_bloom_fp_rate_reasonable():
    rng = np.random.default_rng(7)
    items = rng.integers(-(2**63), 2**63 - 1, 20_000, dtype=np.int64)
    b = BloomShard.sized_for(10_000, fp_rate=0.01)
    b.add(items[:10_000])
    assert b.contains(items[:10_000]).all()
    fp = b.contains(items[10_000:]).mean()
    assert fp < 0.03


def test_bloom_serialization_and_merge():
    b1 = BloomShard(1 << 12, 5)
    b2 = BloomShard(1 << 12, 5)
    b1.add([1, 2, 3])
    b2.add([100, 200])
    rt = BloomShard.from_bytes(b1.to_bytes())
    assert (rt.bits == b1.bits).all() and rt.n_hashes == 5
    m = b1.merge(b2)
    assert m.contains([1, 2, 3, 100, 200]).all()


@settings(max_examples=30, deadline=None)
@given(_hashes)
@example(hs=[2121, 2121, 2121, 2121, 2121])  # Hypothesis-discovered
def test_cuckoo_insert_contains(hs):
    """Zero false negatives ALWAYS; insert may only report failure via the
    saturation fallback. (ok.all() is not a valid property for arbitrary
    input: >SLOTS copies of one fingerprint can never fit its bucket pair
    — e.g. five identical hashes whose alt bucket equals the primary —
    and the designed behavior is saturation, after which contains() is
    all-True so the seen-filter can degrade but never forget.)"""
    c = CuckooShard.sized_for(len(hs) * 2)
    ok = c.insert(hs)
    assert c.contains(hs).all()
    if not ok.all():
        assert c.saturated


def test_cuckoo_delete_roundtrip():
    rng = np.random.default_rng(3)
    items = rng.integers(-(2**63), 2**63 - 1, 5_000, dtype=np.int64)
    c = CuckooShard.sized_for(5_000)
    assert c.insert(items).all()
    assert c.contains(items).all()
    assert c.delete(items[:1000]).all()
    # no false negatives on the survivors
    assert c.contains(items[1000:]).all()
    rt = CuckooShard.from_bytes(c.to_bytes())
    assert (rt.table == c.table).all()


def test_cuckoo_saturation_never_false_negative():
    c = CuckooShard(16)  # tiny: 64 slots
    rng = np.random.default_rng(1)
    items = rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64)
    c.insert(items)
    assert c.saturated
    assert c.contains(items).all()  # saturated -> all-True, never a false negative
    rt = CuckooShard.from_bytes(c.to_bytes())
    assert rt.saturated
