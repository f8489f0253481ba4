"""Property tests for the URL-seen sketches (hypothesis).

The crawl correctness contract: sketches may report false positives (those
fall through to the exact anti-join) but NEVER false negatives — a false
negative would re-enqueue a seen URL and break crawl-order equivalence.
Merge must be associative/commutative over disjoint key sets (treeAggregate
precondition).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fakepilot_spark.crawl.engine import sketch_builder
from fakepilot_spark.crawl.sketches import BloomFilter, CuckooFilter

hashes = st.lists(
    st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=0, max_size=300
)


def _arr(xs):
    return np.array(xs, dtype=np.uint64)


@given(hashes)
@settings(max_examples=50, deadline=None)
def test_bloom_no_false_negatives(xs):
    bf = BloomFilter.for_capacity(max(len(xs), 10), fpp=0.01)
    if xs:
        bf.add_many(_arr(xs))
        assert bf.contains_many(_arr(xs)).all()


@given(hashes, hashes)
@settings(max_examples=30, deadline=None)
def test_bloom_merge_is_union(xs, ys):
    a = BloomFilter(4096, 4)
    b = BloomFilter(4096, 4)
    if xs:
        a.add_many(_arr(xs))
    if ys:
        b.add_many(_arr(ys))
    ab = BloomFilter.from_bytes(a.to_bytes()).merge(b)
    ba = BloomFilter.from_bytes(b.to_bytes()).merge(a)
    assert (ab.bits == ba.bits).all()  # commutative
    both = xs + ys
    if both:
        assert ab.contains_many(_arr(both)).all()


def test_bloom_fpp_bound():
    rng = np.random.default_rng(7)
    items = rng.integers(0, 1 << 63, size=20_000, dtype=np.uint64)
    probes = rng.integers(0, 1 << 63, size=20_000, dtype=np.uint64)
    bf = BloomFilter.for_capacity(20_000, fpp=0.01)
    bf.add_many(items)
    fp = bf.contains_many(np.setdiff1d(probes, items)).mean()
    assert fp < 0.03  # 3x headroom over the design point


@given(hashes)
@settings(max_examples=50, deadline=None)
def test_cuckoo_no_false_negatives(xs):
    cf = CuckooFilter.for_capacity(max(len(xs), 16))
    if xs:
        cf.add_many(_arr(xs))
        assert cf.contains_many(_arr(xs)).all()


@given(hashes)
@settings(max_examples=30, deadline=None)
def test_cuckoo_roundtrip_serialization(xs):
    cf = CuckooFilter.for_capacity(max(len(xs), 16))
    if xs:
        cf.add_many(_arr(xs))
    back = CuckooFilter.from_bytes(cf.to_bytes())
    assert (back.table == cf.table).all()
    if xs:
        assert back.contains_many(_arr(xs)).all()


@given(hashes, hashes)
@settings(max_examples=30, deadline=None)
def test_cuckoo_merge_union(xs, ys):
    cap = max(len(xs) + len(ys), 32) * 2
    a = CuckooFilter.for_capacity(cap)
    b = CuckooFilter(a.n_buckets)  # identical geometry
    if xs:
        a.add_many(_arr(xs))
    if ys:
        b.add_many(_arr(ys))
    merged = CuckooFilter.from_bytes(a.to_bytes()).merge(b)
    both = xs + ys
    if both:
        assert merged.contains_many(_arr(both)).all()


def _distinct_keys(n, seed):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(0, (1 << 64) - 1, size=n, dtype=np.uint64))


def test_cuckoo_add_many_overflow_raises():
    cf = CuckooFilter.for_capacity(64)
    with pytest.raises(RuntimeError, match="cuckoo filter full"):
        cf.add_many(_distinct_keys(400, 5))


def test_cuckoo_merge_overflow_raises():
    """Merge shares add_many's eviction path, so two filters that each fit
    but together exceed the table raise the same way."""
    keys = _distinct_keys(200, 6)
    a = CuckooFilter.for_capacity(64)
    b = CuckooFilter(a.n_buckets)
    assert len(keys) > a.table.size
    a.add_many(keys[:100])
    b.add_many(keys[100:])
    with pytest.raises(RuntimeError, match="cuckoo filter full"):
        a.merge(b)


@given(hashes, hashes)
@settings(max_examples=30, deadline=None)
def test_cuckoo_merge_counts_items(xs, ys):
    cap = max(len(xs) + len(ys), 32) * 2
    a = CuckooFilter.for_capacity(cap)
    b = CuckooFilter(a.n_buckets)
    a.add_many(_arr(xs))
    b.add_many(_arr(ys))
    n_a, n_b = a.n_items, b.n_items
    assert (n_a, n_b) == (len(xs), len(ys))
    assert a.merge(b).n_items == n_a + n_b


def test_cuckoo_one_pid_fills_past_nine_tenths():
    """One pid's table, as the engine fills it: every hash shares its low
    bits (``pmod(xxhash64(url), 16)`` picked the table), and the table is
    the default ``for_capacity(1 << 16)``. It must take 0.9 of its slots
    without raising and without a false negative."""
    rng = np.random.default_rng(3)
    cf = CuckooFilter.for_capacity(1 << 16)
    n = int(0.9 * cf.table.size)
    hs = rng.integers(0, (1 << 64) - 1, size=n + 1000, dtype=np.uint64) & ~np.uint64(15)
    hs = rng.permutation(np.unique(hs))[:n]
    cf.add_many(hs)
    assert cf.n_items == n
    assert cf.contains_many(hs).all()


def test_cuckoo_fpp_reasonable():
    rng = np.random.default_rng(11)
    items = rng.integers(0, 1 << 63, size=30_000, dtype=np.uint64)
    probes = rng.integers(0, 1 << 63, size=30_000, dtype=np.uint64)
    cf = CuckooFilter.for_capacity(30_000)
    cf.add_many(items)
    fp = cf.contains_many(np.setdiff1d(probes, items)).mean()
    assert fp < 0.01  # 16-bit fingerprints → ~2^-13 theoretical


@pytest.mark.parametrize("n_batches", [1, 3])
def test_sketch_builder_carries_tables_forward(n_batches):
    """The build function on batches that mix both row kinds: carried
    (pid, h=0, blob) rows and new (pid, h, null) rows. Each pid's table is
    carried forward and takes only its new hashes — none re-inserted; a pid
    with no new hashes passes through unchanged; the bloom fragment holds the
    new hashes. Hashes span the full 64-bit range, so any float rounding of
    ``h`` shows as a false negative."""
    P, cap = 4, 1024
    rng = np.random.default_rng(7)
    full = np.iinfo(np.int64)
    old = rng.integers(full.min, full.max, size=400, dtype=np.int64)
    new = rng.integers(full.min, full.max, size=300, dtype=np.int64)
    new = new[new % P != 0]  # pid 0 gets no new hashes
    carried = {}
    for pid in range(P - 1):  # pid P-1 has no carried table
        cf = CuckooFilter.for_capacity(cap)
        cf.add_many(old[old % P == pid].view(np.uint64))
        carried[pid] = cf.to_bytes()
    batch = pd.concat(
        [
            pd.DataFrame({"pid": (new % P).astype(np.int32), "h": new, "blob": None}),
            pd.DataFrame({
                "pid": np.array(list(carried), dtype=np.int32),
                "h": np.zeros(len(carried), dtype=np.int64),
                "blob": list(carried.values()),
            }),
        ],
        ignore_index=True,
    ).sample(frac=1.0, random_state=1)  # interleave the two kinds
    proto = BloomFilter.for_capacity(4096)
    build = sketch_builder(proto.n_bits, proto.n_hashes, cap)
    chunks = [batch.iloc[i] for i in np.array_split(np.arange(len(batch)), n_batches)]
    out = pd.concat(list(build(iter(chunks))))

    rows = dict(zip(out["pid"].tolist(), out["blob"]))
    assert sorted(rows) == [-1, 0, 1, 2, 3]
    assert rows[0] == carried[0]
    bloom = BloomFilter.from_bytes(rows[-1])
    assert bloom.contains_many(new.view(np.uint64)).all()
    for pid in range(P):
        cf = CuckooFilter.from_bytes(rows[pid])
        mine_old, mine_new = old[old % P == pid], new[new % P == pid]
        if pid in carried:
            assert cf.contains_many(mine_old.view(np.uint64)).all()
        else:
            mine_old = mine_old[:0]
        assert cf.contains_many(mine_new.view(np.uint64)).all()
        assert cf.n_items == len(mine_old) + len(mine_new)
