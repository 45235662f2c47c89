"""Snapshot-manifest isolation: readers planned against one snapshot keep
working while writes / compaction / retention land — the Iceberg contract
the store replicates on plain parquet (store.py module docstring)."""

import glob
import os

import pytest

from usgs_geomag_algorithms_spark.sources.store import TierStore
from usgs_geomag_algorithms_spark.tiers import US

T0 = 1578268800 * US  # 2020-01-06
MIN = 60 * US
HOUR = 3600 * US


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "url string, channel string, t_us long, value double"
    )


def minute_rows(hours, url="u"):
    return [
        (url, "text_len", T0 + i * MIN, float(i)) for i in range(hours * 60)
    ]


@pytest.fixture()
def store(spark, tmp_path):
    return TierStore(spark, str(tmp_path / "t"), n_buckets=2)


class TestSnapshotIsolation:
    def test_read_during_compact(self, spark, store):
        store.write(mk(spark, minute_rows(3)).repartition(8), "minute")
        old_reader = store.read("minute")  # plans against snapshot v1
        expected = sorted(map(tuple, old_reader.collect()))
        store.compact("minute")  # flips to v2; v1 files -> trash
        # the pre-compact plan still executes: its files are on disk
        assert sorted(map(tuple, old_reader.collect())) == expected
        # and a fresh read sees identical data through the new snapshot
        assert sorted(map(tuple, store.read("minute").collect())) == expected

    def test_read_during_partition_overwrite(self, spark, store):
        store.write(mk(spark, minute_rows(2)), "minute")
        old_reader = store.read("minute")
        expected = sorted(map(tuple, old_reader.collect()))
        # overwrite hour 0's partitions with changed values
        patch = mk(
            spark,
            [("u", "text_len", T0 + i * MIN, 999.0) for i in range(60)],
        )
        store.write(patch, "minute")
        # pre-write reader still sees the OLD snapshot, completely
        assert sorted(map(tuple, old_reader.collect())) == expected
        new = {r.t_us: r.value for r in store.read("minute").collect()}
        assert new[T0] == 999.0

    def test_retention_is_metadata_only(self, spark, store):
        rows = [("u", "c", T0 + d * 86400 * US, 1.0) for d in range(4)]
        store.write(mk(spark, rows), "day")
        old_reader = store.read("day")
        dropped = store.expire_before("day", T0 + 2 * 86400 * US)
        assert len(dropped) == 2
        assert store.read("day").count() == 2
        # expired files linger physically (trash grace): the pre-drop
        # reader still delivers all four rows
        assert old_reader.count() == 4

    def test_trash_gc_after_grace(self, spark, store):
        store.write(mk(spark, minute_rows(1)).repartition(4), "minute")
        base = store.path("minute")
        v1_files = set(store._load_manifest(base)["files"])
        store.compact("minute")  # v2: v1 files trashed
        assert all(os.path.exists(f"{base}/{f}") for f in v1_files)
        # two more versions -> grace (2) expires for v1's trash (upsert =
        # merge, so untouched slots survive the partition rewrite)
        store.upsert(mk(spark, [("u", "text_len", T0, 5.0)]), "minute")  # v3
        store.upsert(mk(spark, [("u", "text_len", T0, 6.0)]), "minute")  # v4
        on_disk = {
            os.path.relpath(p, base)
            for p in glob.glob(f"{base}/*/*/*.parquet")
        }
        assert not (v1_files & on_disk)
        # data still intact through the live snapshot
        vals = {r.t_us: r.value for r in store.read("minute").collect()}
        assert vals[T0] == 6.0 and len(vals) == 60

    def test_crash_orphans_are_collected(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        base = store.path("minute")
        pdir = glob.glob(f"{base}/p_date=*/p_bucket=*")[0]
        orphan = os.path.join(pdir, "part-orphan-from-crash.zstd.parquet")
        real = glob.glob(f"{pdir}/*.parquet")[0]
        import shutil

        shutil.copy(real, orphan)  # debris of a write that never committed
        before = sorted(map(tuple, store.read("minute").collect()))
        # orphan invisible to reads (manifest-scoped scan)
        assert sorted(map(tuple, store.read("minute").collect())) == before
        store.write(mk(spark, [("u", "text_len", T0, 7.0)]), "minute")
        assert not os.path.exists(orphan)

    def test_first_write_crash_debris_never_goes_live(
        self, spark, store, monkeypatch
    ):
        # a first write that dies before its flip leaves parquet files and
        # no manifest: they stay invisible and the next commit sweeps them
        def crash(*_a, **_k):
            raise RuntimeError("writer died before the manifest flip")

        with monkeypatch.context() as mp:
            mp.setattr(TierStore, "_commit_append", crash)
            with pytest.raises(RuntimeError):
                store.write(mk(spark, minute_rows(1)[:5]), "minute")
        base = store.path("minute")
        debris = glob.glob(f"{base}/p_date=*/p_bucket=*/*.parquet")
        assert debris and store.versions("minute") == []
        assert store.read("minute").count() == 0
        day2 = T0 + 24 * HOUR
        other = [("v", "text_len", day2 + i * MIN, float(i)) for i in range(3)]
        store.write(mk(spark, other), "minute")
        assert sorted(map(tuple, store.read("minute").collect())) == other
        assert not [f for f in debris if os.path.exists(f)]

    def test_manifest_version_advances(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        base = store.path("minute")
        v1 = store._load_manifest(base)["version"]
        store.write(mk(spark, [("u", "text_len", T0, 1.0)]), "minute")
        assert store._load_manifest(base)["version"] == v1 + 1


class TestUpsertScanScope:
    def test_read_partitions_scans_only_touched_files(self, spark, store):
        rows = [
            ("u", "c", T0 + d * 86400 * US + i * MIN, 1.0)
            for d in range(4)
            for i in range(3)
        ]
        store.write(mk(spark, rows), "minute")
        base = store.path("minute")
        keys = {("2020-01-07", b) for b in range(store.n_buckets)}
        df = store._read_partitions("minute", keys)
        files = df.inputFiles()
        assert files and all("p_date=2020-01-07" in f for f in files)
        assert df.count() == 3

    def test_upsert_prunes_and_merges(self, spark, store):
        rows = [
            ("u", "c", T0 + d * 86400 * US, float(d)) for d in range(4)
        ]
        store.write(mk(spark, rows), "day")
        store.upsert(
            mk(spark, [("u", "c", T0 + 86400 * US, 99.0)]), "day"
        )
        got = {r.t_us: r.value for r in store.read("day").collect()}
        assert got[T0 + 86400 * US] == 99.0
        assert len(got) == 4  # untouched days intact


class TestConcurrentWriterGuard:
    """Single-writer-per-tier is now ENFORCED, not assumed: a racing
    writer fails loudly (ConcurrentWriterError) and never costs the first
    writer's committed files."""

    def test_lock_held_rejects_second_writer(self, spark, store):
        from usgs_geomag_algorithms_spark.functions.filelock import (
            commit_lock,
        )
        from usgs_geomag_algorithms_spark.sources.store import (
            ConcurrentWriterError,
        )

        store.write(mk(spark, minute_rows(1)), "minute")
        expected = sorted(map(tuple, store.read("minute").collect()))
        # writer A mid-commit: it holds the tier's commit lock
        with commit_lock(store.path("minute"), 0.0, RuntimeError):
            with pytest.raises(ConcurrentWriterError, match="is held"):
                store.write(mk(spark, minute_rows(1, url="v")), "minute")
            # nothing was committed or lost under the failed attempt
            assert (
                sorted(map(tuple, store.read("minute").collect()))
                == expected
            )
        store.write(mk(spark, minute_rows(1, url="v")), "minute")
        assert store.read("minute").count() == 2 * len(expected)

    def test_killed_holder_never_wedges_tier(self, spark, store, lock_holder):
        """A writer SIGKILLed while holding the lock blocks others only
        while it lives; the kernel releases the lock with the process,
        with no manual unlock."""
        from usgs_geomag_algorithms_spark.sources.store import (
            ConcurrentWriterError,
        )

        store.write(mk(spark, minute_rows(1)), "minute")
        holder = lock_holder(store.path("minute"))
        with pytest.raises(ConcurrentWriterError, match="is held"):
            store.write(mk(spark, minute_rows(1, url="v")), "minute")
        holder.kill()
        holder.wait(10)
        store.write(mk(spark, minute_rows(1, url="v")), "minute")
        assert store.read("minute").where("url = 'v'").count() == 60

    def test_interleaved_commit_converges(self, spark, store):
        """The interleaving the round-2 verdict called out: upsert B plans
        its read-modify-write against snapshot v_n, writer A lands a
        commit (v_n+1), then B flips. Optimistic concurrency: if A's
        partitions are disjoint from B's, B rebases and lands; if they
        overlap, B recomputes the merge against the fresh snapshot and
        retries. Either way BOTH writers' rows survive."""
        from unittest import mock

        store.write(mk(spark, minute_rows(1)), "minute")

        real_read_partitions = store._read_partitions
        interleaved = []

        def read_then_interleave(tier, keys, **kw):
            out = real_read_partitions(tier, keys, **kw)
            out.collect()  # force B's read before A's interleaved commit
            if not interleaved:  # one-shot: A commits once, mid-merge
                interleaved.append(True)
                store.write(
                    mk(spark, minute_rows(1, url="interleaved")), tier
                )
            return out

        rows_b = [("u", "text_len", T0 + i * MIN, -1.0) for i in range(10)]
        with mock.patch.object(
            store, "_read_partitions", side_effect=read_then_interleave
        ):
            store.upsert(mk(spark, rows_b), "minute")

        got = store.read("minute")
        # A's interleaved commit fully present AND B's merge landed
        assert got.where("url = 'interleaved'").count() == 60
        assert got.where("value = -1.0").count() == 10
        assert got.count() == 120

    def test_overlapping_interleave_recomputes_merge(self, spark, store):
        """A commits into the SAME partition B is merging into: B must
        detect the stale snapshot, re-read (now seeing A's rows), and
        land a merge containing both writers' data."""
        from unittest import mock

        store.write(mk(spark, minute_rows(1)), "minute")

        real_read_partitions = store._read_partitions
        calls = []

        def read_then_interleave(tier, keys, **kw):
            out = real_read_partitions(tier, keys, **kw)
            out.collect()
            calls.append(len(calls))
            if len(calls) == 1:  # same url -> same (p_date, p_bucket)
                rows_a = [
                    ("u", "text_len", T0 + i * MIN, -2.0)
                    for i in range(10, 20)
                ]
                store.write(mk(spark, rows_a), "minute")
            return out

        rows_b = [("u", "text_len", T0 + i * MIN, -1.0) for i in range(10)]
        with mock.patch.object(
            store, "_read_partitions", side_effect=read_then_interleave
        ):
            store.upsert(mk(spark, rows_b), "minute")

        # overlap forced a second read-merge pass
        assert len(calls) == 2
        got = store.read("minute")
        assert got.where("value = -1.0").count() == 10  # B's rows
        assert got.where("value = -2.0").count() == 10  # A's rows kept
        # A used bare write() = partition OVERWRITE, so the partition
        # holds exactly A's overwrite merged with B's recomputed upsert;
        # had B's first (stale) merge flipped, A's -2.0 rows would be gone
        assert got.count() == 20

    def test_exhausted_retries_raise_stale(self, spark, store):
        """A writer that loses the race on EVERY attempt fails loudly
        after bounded retries; every interleaved commit survives."""
        from unittest import mock

        from usgs_geomag_algorithms_spark.sources.store import (
            StaleSnapshotError,
        )

        store.upsert_retries = 2
        store.write(mk(spark, minute_rows(1)), "minute")

        real_read_partitions = store._read_partitions
        calls = []

        def always_interleave(tier, keys, **kw):
            out = real_read_partitions(tier, keys, **kw)
            out.collect()
            calls.append(len(calls))
            rows_a = [
                ("u", "text_len", T0 + (100 + len(calls)) * MIN, -2.0)
            ]
            store.write(mk(spark, rows_a), "minute")
            return out

        rows_b = [("u", "text_len", T0 + i * MIN, -1.0) for i in range(10)]
        with mock.patch.object(
            store, "_read_partitions", side_effect=always_interleave
        ):
            with pytest.raises(StaleSnapshotError, match="stale"):
                store.upsert(mk(spark, rows_b), "minute")
        assert len(calls) == 2
        got = store.read("minute")
        # A's commits are bare write() partition overwrites of the same
        # partition, so the LAST one is the live state — intact
        assert got.where("value = -2.0").count() == 1
        assert got.where("value = -1.0").count() == 0  # B never landed

    def test_lock_wait_queues_second_writer(self, spark, store):
        """With lock_wait_s set, a second committer queues on the lock
        instead of failing — writers serialize, both land."""
        import threading

        from usgs_geomag_algorithms_spark.functions.filelock import (
            commit_lock,
        )

        store.lock_wait_s = 10.0
        store.write(mk(spark, minute_rows(1)), "minute")
        held, release = threading.Event(), threading.Event()

        def hold():
            with commit_lock(store.path("minute"), 0.0, RuntimeError):
                held.set()
                release.wait(10)

        t = threading.Thread(target=hold)
        t.start()
        held.wait(10)
        threading.Timer(1.0, release.set).start()
        try:
            store.write(mk(spark, minute_rows(1, url="queued")), "minute")
        finally:
            release.set()
            t.join()
        assert store.read("minute").where("url = 'queued'").count() == 60

    def test_commit_cas_detects_bypassing_writer(self, spark, store):
        """Even a writer that slipped past the lock (a second host on a
        shared filesystem, where flock is not shared) is caught by the
        version CAS at flip time."""
        from usgs_geomag_algorithms_spark.sources.store import (
            ConcurrentWriterError,
        )

        store.write(mk(spark, minute_rows(1)), "minute")
        base = store.path("minute")
        m = store._load_manifest(base)
        # another writer advances the on-disk manifest under us
        store._save_manifest(base, {**m, "version": m["version"] + 1})
        with pytest.raises(ConcurrentWriterError, match="aborting the flip"):
            store._commit_append(base, m, set(), [])


class TestSinkTxns:
    def test_txn_survives_maintenance_and_skips_replay(self, spark, store):
        """A sink's committed epoch (the manifest's ``txns``) is carried
        through compaction, deletion and bucket evolution; a replay of
        that epoch writes nothing and the next epoch lands."""
        txn = ("minute/u", 0)
        store.write(mk(spark, minute_rows(1)), "minute", txn=txn)
        store.write(mk(spark, minute_rows(1, url="x")), "minute")
        store.compact("minute")
        store.delete_series("minute", ["x"])
        store.evolve_buckets("minute", 4)
        assert store.txn_epoch("minute", "minute/u") == 0
        before = sorted(map(tuple, store.read("minute").collect()))
        patch = mk(spark, [("u", "text_len", T0, 999.0)])
        store.upsert(patch, "minute", txn=txn)
        assert sorted(map(tuple, store.read("minute").collect())) == before
        store.upsert(patch, "minute", txn=("minute/u", 1))
        assert store.read("minute").where("value = 999.0").count() == 1
        assert store.txn_epoch("minute", "minute/u") == 1
        assert store.txn_epoch("minute", "minute/other") == -1


class TestTimeTravel:
    def test_version_as_of_reads_history(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")          # v0? first commit
        v1 = store.versions("minute")[-1]
        # upsert changes minute 0's value and appends a new hour
        patch = [("u", "text_len", T0, 999.0)] + minute_rows(1, url="w")
        store.upsert(mk(spark, patch), "minute")
        v2 = store.versions("minute")[-1]
        assert v2 > v1

        old = store.read("minute", as_of_version=v1)
        assert old.where("url = 'w'").count() == 0
        assert old.where(f"url = 'u' AND t_us = {T0}").first().value == 0.0

        cur = store.read("minute")
        assert cur.where("url = 'w'").count() == 60
        assert cur.where(f"url = 'u' AND t_us = {T0}").first().value == 999.0
        # current read == explicit current-version read
        assert sorted(map(tuple, cur.collect())) == sorted(
            map(tuple, store.read("minute", as_of_version=v2).collect())
        )

    def test_expired_version_raises(self, spark, store):
        from usgs_geomag_algorithms_spark.sources.store import TimeTravelError

        store.write(mk(spark, minute_rows(1)), "minute")
        first = store.versions("minute")[-1]
        # advance GC_GRACE_VERSIONS + 1 commits so `first` ages out
        for i in range(TierStore.GC_GRACE_VERSIONS + 1):
            store.upsert(
                mk(spark, [("u", "text_len", T0 + i * MIN, float(100 + i))]),
                "minute",
            )
        assert first not in store.versions("minute")
        with pytest.raises(TimeTravelError):
            store.read("minute", as_of_version=first)
        with pytest.raises(TimeTravelError):
            store.read("minute", as_of_version=99999)

    def test_time_travel_survives_compact_and_gc_window(self, spark, store):
        store.write(mk(spark, minute_rows(2)).repartition(8), "minute")
        v1 = store.versions("minute")[-1]
        before = sorted(map(tuple, store.read("minute").collect()))
        store.compact("minute")
        # v1's files are trashed but inside the grace window: the old
        # snapshot must still read consistently
        assert sorted(
            map(tuple, store.read("minute", as_of_version=v1).collect())
        ) == before


class TestTags:
    def test_tag_resolves_and_pins_past_gc(self, spark, store):
        from usgs_geomag_algorithms_spark.sources.store import TimeTravelError

        store.write(mk(spark, minute_rows(1)), "minute")
        v1 = store.versions("minute")[-1]
        frozen = sorted(map(tuple, store.read("minute").collect()))
        assert store.tag("minute", "release-1") == v1
        assert store.tags("minute") == {"release-1": v1}

        # age v1 well past the grace window with overwrites that trash
        # its files, plus a compaction
        for i in range(TierStore.GC_GRACE_VERSIONS + 3):
            store.write(
                mk(spark, [("u", "text_len", T0, float(1000 + i))]), "minute"
            )
        store.compact("minute")
        assert v1 in store.versions("minute")  # history entry preserved
        # the tagged snapshot still reads, completely and unchanged
        assert (
            sorted(map(tuple, store.read("minute", tag="release-1").collect()))
            == frozen
        )
        # an UNtagged sibling version from the same era is gone
        with pytest.raises(TimeTravelError):
            store.read("minute", as_of_version=v1 + 1)

    def test_untag_releases_for_gc(self, spark, store):
        from usgs_geomag_algorithms_spark.sources.store import TimeTravelError

        store.write(mk(spark, minute_rows(1)), "minute")
        v1 = store.versions("minute")[-1]
        store.tag("minute", "keep", v1)
        for i in range(TierStore.GC_GRACE_VERSIONS + 1):
            store.write(
                mk(spark, [("u", "text_len", T0, float(i))]), "minute"
            )
        assert store.read("minute", tag="keep").count() == 60
        store.untag("minute", "keep")
        # next commits GC the now-unpinned era
        for i in range(TierStore.GC_GRACE_VERSIONS + 1):
            store.write(
                mk(spark, [("u", "text_len", T0 + MIN, float(i))]), "minute"
            )
        with pytest.raises(TimeTravelError):
            store.read("minute", tag="keep")
        with pytest.raises(TimeTravelError):
            store.read("minute", as_of_version=v1)

    def test_tag_validation(self, spark, store):
        from usgs_geomag_algorithms_spark.sources.store import TimeTravelError

        store.write(mk(spark, minute_rows(1)), "minute")
        with pytest.raises(TimeTravelError):
            store.tag("minute", "bad", 99999)
        with pytest.raises(TimeTravelError):
            store.read("minute", tag="never-created")
        with pytest.raises(ValueError):
            store.read(
                "minute", as_of_version=store.versions("minute")[-1], tag="x"
            )


class TestDeleteSeries:
    def rows(self, urls, n=120):
        return [
            (u, "text_len", T0 + i * MIN, float(i + 1))
            for u in urls
            for i in range(n)
        ]

    def test_delete_spares_same_bucket_survivors(self, spark, store):
        urls = [f"u{i}" for i in range(6)]  # 6 urls over 2 buckets
        store.write(mk(spark, self.rows(urls)).repartition(4), "minute")
        rep = store.delete_series("minute", ["u1", "u4"])
        assert rep["rows_deleted"] == 2 * 120 and rep["files_replaced"] > 0
        got = {r.url for r in store.read("minute").collect()}
        assert got == {"u0", "u2", "u3", "u5"}
        # row-level integrity of a survivor sharing the victims' buckets
        n = store.read("minute").where("url = 'u0'").count()
        assert n == 120
        # idempotent: deleting again removes nothing
        assert store.delete_series("minute", ["u1"])["rows_deleted"] == 0

    def test_emptied_partitions_are_retired(self, spark, tmp_path):
        st = TierStore(spark, str(tmp_path / "d"), n_buckets=8)
        st.write(mk(spark, self.rows(["only", "other"], n=60)), "minute")
        buckets = {
            r.p_bucket
            for r in st._partitioned(
                mk(spark, self.rows(["only"], n=1))
            ).collect()
        }
        rep = st.delete_series("minute", ["only"])
        assert rep["rows_deleted"] == 60
        assert {r.url for r in st.read("minute").collect()} == {"other"}
        # the victim's bucket dirs hold no LIVE files even if "other"
        # never wrote there — write() alone could not express this
        m = st._load_manifest(st.path("minute"))
        live_buckets = {
            p.split("=")[1]
            for f in m["files"]
            for p in f.split("/")
            if p.startswith("p_bucket=")
        }
        assert {str(b) for b in buckets} - live_buckets == {
            str(b) for b in buckets
        }

    def test_soft_delete_is_time_travelable_hard_is_not(self, spark, store):
        store.write(mk(spark, self.rows(["a", "b"], n=30)), "minute")
        v1 = store._load_manifest(store.path("minute"))["version"]
        store.delete_series("minute", ["a"])
        # soft: the pre-delete snapshot still resolves the deleted rows
        old = store.read("minute", as_of_version=v1)
        assert old.where("url = 'a'").count() == 30
        # hard: the replaced live files are physically unlinked NOW (the
        # earlier SOFT delete's trash legitimately stays through grace)
        live_before = set(store._load_manifest(store.path("minute"))["files"])
        store.delete_series("minute", ["b"], hard=True)
        m = store._load_manifest(store.path("minute"))
        for f in live_before:
            assert not os.path.exists(os.path.join(store.path("minute"), f))
            assert f not in m["trash"]
        assert store.read("minute").where("url = 'b'").count() == 0

    def test_many_keys_broadcast_path(self, spark, store):
        urls = [f"w{i}" for i in range(10)]
        store.write(mk(spark, self.rows(urls, n=20)), "minute")
        victims = [f"w{i}" for i in range(8)] + [f"nope{i}" for i in range(60)]
        assert len(victims) > store.MAX_LITERAL_DELETE_KEYS
        rep = store.delete_series("minute", victims)
        assert rep["rows_deleted"] == 8 * 20
        assert {r.url for r in store.read("minute").collect()} == {"w8", "w9"}


class TestChangelog:
    """Row-level CDC between snapshot versions: O(changed partitions),
    compaction-invisible, exact upsert/delete classification."""

    def _v(self, store, tier):
        return store.versions(tier)[-1]

    def test_upsert_diff_only_changed_rows(self, spark, store):
        store.write(mk(spark, minute_rows(2)), "minute")
        v1 = self._v(store, "minute")
        # change 3 values + add 2 new rows inside hour 0 (same partition
        # as ~118 untouched rows that the overwrite rewrites)
        patch = mk(
            spark,
            [("u", "text_len", T0 + i * MIN, 7777.0) for i in range(3)]
            + [("u", "new_ch", T0 + i * MIN, 1.0) for i in range(2)],
        )
        store.upsert(patch, "minute")
        ch = store.changelog("minute", v1).collect()
        ops = {(r.url, r.channel, r.t_us): (r.op, r.value) for r in ch}
        assert len(ch) == 5  # rewritten-but-unchanged rows cancel
        for i in range(3):
            assert ops[("u", "text_len", T0 + i * MIN)] == ("upsert", 7777.0)
        for i in range(2):
            assert ops[("u", "new_ch", T0 + i * MIN)] == ("upsert", 1.0)

    def test_retention_drop_is_deletes(self, spark, store):
        rows = minute_rows(2) + [
            ("u", "text_len", T0 + 3 * 86400 * 1_000_000 + i * MIN, 5.0)
            for i in range(10)
        ]
        store.write(mk(spark, rows), "minute")
        v1 = self._v(store, "minute")
        store.expire_before("minute", T0 + 86400 * 1_000_000)
        ch = store.changelog("minute", v1).collect()
        assert all(r.op == "delete" for r in ch)
        assert len(ch) == 120  # exactly day-0's rows
        assert {r.t_us for r in ch} == {T0 + i * MIN for i in range(120)}

    def test_compaction_invisible(self, spark, store):
        store.write(mk(spark, minute_rows(2)).repartition(8), "minute")
        v1 = self._v(store, "minute")
        store.compact("minute")
        assert store.changelog("minute", v1).count() == 0

    def test_version_window_and_composition(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        v1 = self._v(store, "minute")
        store.upsert(
            mk(spark, [("u", "text_len", T0, 1.0)]), "minute"
        )
        v2 = self._v(store, "minute")
        store.upsert(
            mk(spark, [("u", "text_len", T0, 2.0)]), "minute"
        )
        # v1->v2 sees the first change, v2->current the second
        c12 = store.changelog("minute", v1, v2).collect()
        assert [(r.op, r.value) for r in c12] == [("upsert", 1.0)]
        c2c = store.changelog("minute", v2).collect()
        assert [(r.op, r.value) for r in c2c] == [("upsert", 2.0)]
        # aged-out version raises
        from usgs_geomag_algorithms_spark.sources.store import (
            TimeTravelError,
        )
        for _ in range(TierStore.GC_GRACE_VERSIONS + 1):
            store.compact("minute")
        with pytest.raises(TimeTravelError):
            store.changelog("minute", v1)

    def test_reads_only_touched_files(self, spark, store):
        # the diff plan must reference ONLY added/removed files, not the
        # whole table: patch one partition of a 3-day tier and check the
        # scanned file count
        store.write(mk(spark, minute_rows(72)), "minute")  # 3 days
        v1 = self._v(store, "minute")
        store.upsert(
            mk(spark, [("u", "text_len", T0, 42.0)]), "minute"
        )
        ch = store.changelog("minute", v1)
        plan = ch._jdf.queryExecution().executedPlan().toString()
        ch.collect()
        import re
        base = store.path("minute")
        m_all = store._load_manifest(base)
        # all files of day 2/3 partitions are absent from the diff scan
        untouched = [f for f in m_all["files"] if "p_date=2020-01-0" in f
                     and "p_date=2020-01-06" not in f]
        assert untouched, "fixture should span multiple days"
        # match full relative paths: partitionBy writes the SAME basename
        # (part-<task>-<uuid>) into every partition dir of one job, so a
        # basename check false-positives once the metadata limit is high
        # enough to print the day-06 file list
        assert not any(f in plan for f in untouched)
        assert "p_date=2020-01-07" not in plan and "p_date=2020-01-08" not in plan


class TestCompactionSortOrder:
    def test_files_clustered_after_compact(self, spark, store):
        # write in deliberately scrambled order across many tasks
        import random

        rows = minute_rows(3) + minute_rows(3, url="w")
        random.Random(5).shuffle(rows)
        store.write(mk(spark, rows).repartition(16), "minute")
        store.compact("minute")
        m = store._load_manifest(store.path("minute"))
        base = store.path("minute")
        checked = 0
        for f in m["files"]:
            got = spark.read.parquet(f"{base}/{f}").select(
                "url", "channel", "t_us"
            ).collect()
            keys = [(r.url, r.channel, r.t_us) for r in got]
            assert keys == sorted(keys)  # clustered within the file
            checked += 1
        assert checked > 0
        # and the data itself is unchanged
        assert store.read("minute").count() == len(rows)


class TestChangelogReplayProperty:
    """Invariant: snapshot(v_from) + changelog(v_from, v_to) == snapshot
    (v_to), for every adjacent version pair of a mixed op sequence —
    the consumer-side correctness contract of the CDC feed."""

    def _apply(self, spark, base_rows, ch_rows):
        state = {(r[0], r[1], r[2]): r[3] for r in base_rows}
        for r in ch_rows:
            key = (r.url, r.channel, r.t_us)
            if r.op == "delete":
                state.pop(key, None)
            else:
                state[key] = r.value
        return state

    def test_replay_reconstructs_every_version(self, spark, store):
        import random

        rng = random.Random(17)
        store.write(mk(spark, minute_rows(3)), "minute")
        ops = ["upsert", "upsert", "compact", "upsert", "expire", "upsert"]
        for op in ops:
            if op == "upsert":
                patch = [
                    (
                        rng.choice(["u", "x"]),
                        "text_len",
                        T0 + rng.randrange(0, 180) * MIN,
                        float(rng.randrange(0, 1000)),
                    )
                    for _ in range(8)
                ]
                store.upsert(mk(spark, patch), "minute")
            elif op == "compact":
                store.compact("minute")
            elif op == "expire":
                store.expire_before("minute", T0 + 60 * MIN)
        versions = store.versions("minute")
        assert len(versions) >= 2
        for v_from, v_to in zip(versions, versions[1:]):
            old = {
                (r.url, r.channel, r.t_us): r.value
                for r in store.read(
                    "minute", as_of_version=v_from
                ).collect()
            }
            new = {
                (r.url, r.channel, r.t_us): r.value
                for r in store.read("minute", as_of_version=v_to).collect()
            }
            ch = store.changelog("minute", v_from, v_to).collect()
            replayed = dict(old)
            for r in ch:
                key = (r.url, r.channel, r.t_us)
                if r.op == "delete":
                    replayed.pop(key, None)
                else:
                    replayed[key] = r.value
            assert replayed == new, f"replay diverged for v{v_from}->v{v_to}"


class TestMetadataTables:
    """Iceberg metadata-relation analogs: files / partitions / snapshots /
    refs as queryable DataFrames built from the manifest (no data scan)."""

    def test_meta_files_inventory(self, spark, store):
        store.write(mk(spark, minute_rows(2, "a") + minute_rows(2, "b")), "minute")
        mf = store.meta_files("minute")
        rows = mf.collect()
        assert all(r.content == "data" for r in rows)
        # manifest and relation agree exactly
        m = store._load_manifest(store.path("minute"))
        assert sorted(r.file for r in rows) == sorted(m["files"])
        # footer metrics surfaced: row counts sum to the tier's rows
        assert sum(r.rows for r in rows) == store.read("minute").count()
        # partition coordinates parsed from the path
        assert {r.p_date for r in rows} == {"2020-01-06"}
        assert {r.p_bucket for r in rows} <= {0, 1}
        assert all(r.bytes and r.bytes > 0 for r in rows)
        assert all(r.t_min_us >= T0 and r.t_max_us > r.t_min_us for r in rows)

    def test_meta_files_shows_pending_equality_deletes(self, spark, store):
        store.write(mk(spark, minute_rows(1, "a") + minute_rows(1, "b")), "minute")
        store.delete_rows(
            spark.createDataFrame(
                [("a", "text_len", T0)], "url string, channel string, t_us long"
            ),
            "minute",
        )
        mf = store.meta_files("minute")
        dels = mf.where("content = 'equality_deletes'").collect()
        assert len(dels) == 1
        assert dels[0].file.startswith("_deletes/")
        # the delete's seq is its commit version, ABOVE every data file's
        data_seq = [r.seq for r in mf.where("content = 'data'").collect()]
        assert dels[0].seq > max(data_seq)
        store.compact("minute")  # materializes; delete file retires
        assert (
            store.meta_files("minute")
            .where("content = 'equality_deletes'")
            .count()
            == 0
        )

    def test_meta_files_time_travel_and_tag(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        store.tag("minute", "rel1")
        v1_files = {r.file for r in store.meta_files("minute").collect()}
        store.upsert(
            mk(spark, [("u", "text_len", T0, 42.0)]), "minute"
        )
        cur_files = {r.file for r in store.meta_files("minute").collect()}
        assert cur_files != v1_files
        assert {
            r.file for r in store.meta_files("minute", as_of_version=1).collect()
        } == v1_files
        assert {
            r.file for r in store.meta_files("minute", tag="rel1").collect()
        } == v1_files
        from usgs_geomag_algorithms_spark.sources.store import TimeTravelError

        with pytest.raises(TimeTravelError):
            store.meta_files("minute", tag="nope")

    def test_meta_partitions_rollup(self, spark, store):
        store.write(
            mk(spark, minute_rows(2, "a") + minute_rows(2, "b")).repartition(4),
            "minute",
        )
        parts = store.meta_partitions("minute").collect()
        mf = store.meta_files("minute").collect()
        assert sum(p.n_files for p in parts) == len(mf)
        assert sum(p.rows for p in parts) == store.read("minute").count()
        store.compact("minute")
        after = store.meta_partitions("minute").collect()
        assert all(p.n_files == 1 for p in after)
        assert sum(p.rows for p in after) == sum(p.rows for p in parts)

    def test_meta_snapshots_history(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        store.upsert(mk(spark, [("u", "text_len", T0, 1.0)]), "minute")
        store.delete_rows(
            spark.createDataFrame(
                [("u", "text_len", T0 + MIN)],
                "url string, channel string, t_us long",
            ),
            "minute",
        )
        snaps = {r.version: r for r in store.meta_snapshots("minute").collect()}
        assert snaps[3].is_current and not snaps[1].is_current
        assert snaps[2].added_files >= 1 and snaps[2].removed_files >= 1
        # delete commit: no data files change, one pending delete appears
        assert snaps[3].added_files == 0 and snaps[3].removed_files == 0
        assert snaps[3].pending_deletes == 1 and snaps[2].pending_deletes == 0
        # row totals come from manifest metrics, no scan: v1 == tier rows
        assert snaps[1].rows == 60

    def test_meta_refs(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        store.tag("minute", "audit")
        store.publish("minute")
        refs = {r.name: r for r in store.meta_refs("minute").collect()}
        assert refs["audit"].version == 1 and refs["audit"].resolvable
        assert refs["published"].version == 1
        store.untag("minute", "audit")
        assert store.meta_refs("minute").where("name='audit'").count() == 0

    def test_meta_tables_are_sql_queryable(self, spark, store):
        store.write(mk(spark, minute_rows(2, "a") + minute_rows(2, "b")), "minute")
        store.meta_files("minute").createOrReplaceTempView("minute_files")
        small = spark.sql(
            "SELECT p_date, p_bucket, count(*) AS n, sum(rows) AS r "
            "FROM minute_files WHERE content='data' "
            "GROUP BY p_date, p_bucket ORDER BY p_date, p_bucket"
        ).collect()
        parts = {
            (p.p_date, p.p_bucket): p
            for p in store.meta_partitions("minute").collect()
        }
        for row in small:
            assert parts[(row.p_date, row.p_bucket)].rows == row.r


class TestFsck:
    """Manifest<->disk consistency checker: loud on missing live files,
    repairs crash debris and dead trash entries, never drops data."""

    def test_clean_store_is_ok(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        rep = store.fsck("minute")
        assert rep["ok"] and not any(
            rep[k] for k in
            ("missing_live", "missing_trashed", "orphans", "stats_gaps")
        )

    def test_missing_live_detected_never_repaired(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        m = store._load_manifest(store.path("minute"))
        victim = m["files"][0]
        os.remove(os.path.join(store.path("minute"), victim))
        rep = store.fsck("minute", repair=True)
        assert not rep["ok"]
        assert victim in rep["missing_live"]
        # repair must NOT have dropped the committed file from the manifest
        m2 = store._load_manifest(store.path("minute"))
        assert victim in m2["files"]

    def test_orphan_swept_on_repair(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        # plant crash debris where a partition dir already exists
        m = store._load_manifest(store.path("minute"))
        d = os.path.dirname(m["files"][0])
        debris = os.path.join(store.path("minute"), d, "part-debris.parquet")
        with open(debris, "wb") as f:
            f.write(b"not parquet")
        rep = store.fsck("minute")
        assert rep["ok"] and rep["orphans"] == [f"{d}/part-debris.parquet"]
        rep = store.fsck("minute", repair=True)
        assert rep["repaired"] and not os.path.exists(debris)
        assert store.fsck("minute")["orphans"] == []
        # content untouched
        assert store.read("minute").count() == 60

    def test_dead_trash_entry_dropped_via_commit(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        store.compact("minute")  # old files -> trash
        base = store.path("minute")
        m = store._load_manifest(base)
        dead = next(iter(m["trash"]))
        os.remove(os.path.join(base, dead))
        v_before = m["version"]
        rep = store.fsck("minute", repair=True)
        assert dead in rep["missing_trashed"] and rep["repaired"]
        m2 = store._load_manifest(base)
        assert dead not in m2["trash"]
        assert m2["version"] == v_before + 1  # hygiene is a real commit
        assert store.read("minute").count() == 60

    def test_tag_pinned_file_not_orphan(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        store.tag("minute", "keep")
        # age the tagged files fully out of live+trash windows
        for i in range(4):
            store.write(mk(spark, minute_rows(1)), "minute")
            store.compact("minute")
        rep = store.fsck("minute")
        assert rep["ok"]
        assert rep["orphans"] == []  # pinned era files are not debris
