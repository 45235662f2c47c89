"""Driver-side XXH64 (``functions/xxhash.py``) against Spark's ``xxhash64``.

Key-pruned reads pick ``p_bucket`` dirs with the driver hash, so a single
mismatch would silently drop a series from its own read. Hypothesis draws
the keys; every key is then checked against Spark in one query, under
several bucket counts and across a bucket-spec evolution.
"""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.functions.xxhash import spark_bucket, xxh64
from usgs_geomag_algorithms_spark.sources.store import TierStore

#: the store default, the bucket counts a spec evolution moves between,
#: and a few odd ones
BUCKET_COUNTS = (1, 2, 3, 5, 6, 7, 16, 1000)

EDGE_KEYS = [
    "",
    "a",
    "abcd",
    "abcdefg",
    "x" * 31,
    "x" * 32,
    "y" * 33,
    "z" * 64 + "tail",
    "héllo wörld ✓ 日本語",
    "🛰️" * 9,
    "https://site0.example/p0",
]


def _drawn_keys() -> list[str]:
    keys: list[str] = []

    @settings(max_examples=400, database=None, deadline=None)
    @given(
        st.one_of(
            st.text(),
            st.text(min_size=32, max_size=120),
            st.text(alphabet=st.characters(min_codepoint=0x80), min_size=1),
        )
    )
    def draw(key):
        keys.append(key)

    draw()
    return EDGE_KEYS + keys


def test_driver_hash_matches_spark(spark, tmp_path):
    keys = sorted(set(_drawn_keys()))
    assert any(len(k.encode()) >= 32 for k in keys)
    assert any(len(k.encode()) > len(k) for k in keys)
    rows = (
        spark.createDataFrame([(k,) for k in keys], "k string")
        .select(
            "k",
            F.xxhash64("k").alias("h"),
            *[
                F.pmod(F.xxhash64("k"), F.lit(n)).cast("int").alias(f"b{n}")
                for n in BUCKET_COUNTS
            ],
        )
        .collect()
    )
    assert len(rows) == len(keys)
    store = TierStore(spark, str(tmp_path / "t"))
    evolved = {"specs": [store.n_buckets, 5]}
    for r in rows:
        assert xxh64(r.k.encode("utf-8")) == r.h, r.k
        for n in BUCKET_COUNTS:
            assert spark_bucket(r.k, n) == r[f"b{n}"], (r.k, n)
        assert store._buckets_by_spec(evolved, [r.k]) == {
            0: {r[f"b{store.n_buckets}"]},
            1: {r.b5},
        }
