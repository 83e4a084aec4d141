"""Routing parity tests.  Golden values from the reference's own test:
mrt/SolrCloudCompositeIdRoutingPartitionerTest.java:29-40."""

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.operators.routing import (
    INT_MAX,
    INT_MIN,
    ShardRouter,
    composite_id_hash,
    micro_shards_arrow,
    murmur3_x86_32,
    partition_ranges,
    with_shard_id,
)


def test_golden_partition_values():
    router = ShardRouter(shards=4, num_partitions=64)
    assert router.micro_shard_of("test") == 3
    assert router.micro_shard_of("foobar") == 13


def test_murmur3_reference_vectors():
    # Public MurmurHash3 x86_32 test vectors (Appleby's SMHasher suite)
    assert murmur3_x86_32(b"", 0) == 0
    assert murmur3_x86_32(b"hello", 0) == 0x248BFA47
    assert murmur3_x86_32(b"hello, world", 0) == 0x149BBB7F
    assert murmur3_x86_32(b"The quick brown fox jumps over the lazy dog", 0) == 0x2E4FF723


def test_ranges_tile_the_ring():
    for shards in (1, 2, 3, 4, 7, 16, 64):
        ranges = partition_ranges(shards)
        assert len(ranges) == shards
        assert ranges[0][0] == INT_MIN
        assert ranges[-1][1] == INT_MAX
        for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert lo2 == hi1 + 1
            assert lo1 <= hi1


def test_partitions_must_be_multiple_of_shards():
    with pytest.raises(ValueError):
        ShardRouter(shards=4, num_partitions=62)


def test_composite_id_routes_with_shard_key():
    # All docs sharing a route key land in the same root shard.
    router = ShardRouter(shards=8, num_partitions=8)
    shards = {router.shard_of(f"tenant1!doc{i}") for i in range(50)}
    assert len(shards) == 1
    # bits=0 → route entirely by doc part
    assert composite_id_hash("tenant1/0!doc5") == composite_id_hash("doc5")


def test_micro_shards_stay_within_root_shard():
    router = ShardRouter(shards=4, num_partitions=64)
    for key in ("a", "b", "test", "foobar", "xyz", "123", "???"):
        micro = router.micro_shard_of(key)
        assert micro // 16 == router.shard_of(key)


def test_with_shard_id_dataframe(spark):
    df = spark.createDataFrame([("test",), ("foobar",)], "id string")
    out = {r["id"]: r["_shard"] for r in with_shard_id(df, "id", 4, 64).collect()}
    assert out == {"test": 3, "foobar": 13}


def test_solr_canonical_ranges():
    """Golden hash ranges as a live SolrCloud CompositeIdRouter reports them
    (the exact `router.field` ranges shown in collection state for 2/3/4
    shards).  The ring size is 2^32-1 and boundaries land on 0xFFFF."""
    def hx(ranges):
        return [(a & 0xFFFFFFFF, b & 0xFFFFFFFF) for a, b in ranges]

    assert hx(partition_ranges(2)) == [
        (0x80000000, 0xFFFFFFFF), (0x00000000, 0x7FFFFFFF)
    ]
    assert hx(partition_ranges(3)) == [
        (0x80000000, 0xD554FFFF), (0xD5550000, 0x2AA9FFFF),
        (0x2AAA0000, 0x7FFFFFFF),
    ]
    assert hx(partition_ranges(4)) == [
        (0x80000000, 0xBFFFFFFF), (0xC0000000, 0xFFFFFFFF),
        (0x00000000, 0x3FFFFFFF), (0x40000000, 0x7FFFFFFF),
    ]


def test_micro_shard_offset_uses_full_key_hash():
    """The within-shard reducer offset re-hashes the FULL key string
    (SolrCloudCompositeIdRoutingPartitioner.java:91-92) — for composite ids
    it must NOT reuse the composite-spliced routing hash."""
    router = ShardRouter(shards=4, num_partitions=64)
    per_shard = 64 // 4
    for key in ("tenant1!doc7", "tenant1!doc8", "a!b!c", "plain"):
        root = router.shard_of(key)
        full = murmur3_x86_32(key.encode("utf-8"), 0)
        expect = root * per_shard + ((full & INT_MAX) % per_shard)
        assert router.micro_shard_of(key) == expect
    # same route key → same root shard, but offsets spread across reducers
    offsets = {
        router.micro_shard_of(f"tenant1!doc{i}") % per_shard for i in range(40)
    }
    assert len(offsets) > 1


def test_with_shard_id_composite_parity(spark):
    """The vectorized UDF and the scalar router agree on composite ids."""
    keys = [f"tenant{i % 3}!doc{i}" for i in range(30)] + ["plain0", "plain1"]
    df = spark.createDataFrame([(k,) for k in keys], "id string")
    got = {
        r["id"]: r["_shard"]
        for r in with_shard_id(df, "id", shards=4, num_partitions=64).collect()
    }
    router = ShardRouter(shards=4, num_partitions=64)
    for k in keys:
        assert got[k] == router.micro_shard_of(k), k


def test_arrow_kernel_on_sliced_array():
    """A sliced Arrow array's data buffer still holds the bytes of the rows
    outside the slice: a '!' there must neither re-hash a row of the slice
    nor index past its end."""
    import pyarrow as pa

    router = ShardRouter(shards=4, num_partitions=8)
    full = pa.array(["a!x", "p1", "c!w", "p2", "b!y"], type=pa.large_string())
    sliced = full.slice(1, 3)
    keys = sliced.to_pylist()
    copy = pa.array(keys, type=pa.large_string())
    got = micro_shards_arrow(sliced, router).to_pylist()
    assert got == micro_shards_arrow(copy, router).to_pylist()
    assert got == [router.micro_shard_of(k) for k in keys]
