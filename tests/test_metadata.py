"""Metadata epoch store — reference parity for geomagio/Metadata.py
(get_instrument open-interval vectors, test/Metadata_test.py),
api/db/metadata_table.py filter semantics, and
MetadataDatabaseFactory history-on-update."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.operators.misc import (
    apply_instrument_metadata,
)
from usgs_geomag_algorithms_spark.sources.metadata import (
    METADATA_SCHEMA,
    MetadataStore,
    filter_metadata,
    get_instrument,
    instrument_epochs_table,
)

US = 1_000_000


def us(s: str) -> int:
    return int(
        datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp()
    ) * US


T0202 = us("2020-02-02T00:00:00")
T0203 = us("2020-02-03T00:00:00")


@pytest.fixture()
def epochs(spark):
    """The reference's TEST_METADATA: three contiguous epochs with
    open-ended first start and last end (test/Metadata_test.py:6-24)."""
    rows = [
        (1, "TST", None, T0202),
        (2, "TST", T0202, T0203),
        (3, "TST", T0203, None),
    ]
    df = spark.createDataFrame(
        rows, "id long, station string, starttime_us long, endtime_us long"
    )
    return df


class TestGetInstrument:
    """The five reference vectors, test/Metadata_test.py:27-99."""

    def ids(self, df):
        return sorted(r.id for r in df.collect())

    def test_after(self, epochs):
        got = get_instrument(
            epochs, "TST", us("2021-02-02T00:00:00"), us("2022-01-02T00:00:00")
        )
        assert self.ids(got) == [3]

    def test_before(self, epochs):
        got = get_instrument(
            epochs, "TST", us("2019-02-02T00:00:00"), us("2020-01-02T00:00:00")
        )
        assert self.ids(got) == [1]

    def test_inside(self, epochs):
        got = get_instrument(
            epochs, "TST", us("2020-02-02T01:00:00"), us("2020-02-02T02:00:00")
        )
        assert self.ids(got) == [2]

    def test_span(self, epochs):
        got = get_instrument(
            epochs, "TST", us("2020-01-02T00:00:00"), us("2020-02-02T01:00:00")
        )
        assert self.ids(got) == [1, 2]

    def test_unknown(self, epochs):
        got = get_instrument(
            epochs, "OTHER", us("2020-01-02T00:00:00"), us("2020-02-02T01:00:00")
        )
        assert self.ids(got) == []

    def test_no_bounds_matches_all(self, epochs):
        assert self.ids(get_instrument(epochs, "TST")) == [1, 2, 3]


class TestStoreCrud:
    def test_create_defaults_and_ids(self, spark, tmp_path):
        st = MetadataStore(spark, str(tmp_path / "m"))
        ids = st.create(
            [
                {"station": "BOU", "category": "instrument"},
                {"station": "FRD", "category": "flag", "data_valid": False,
                 "priority": 2, "status": "reviewed"},
            ],
            now_us=123,
        )
        assert ids == [1, 2]
        rows = {r["id"]: r for r in (st.get_by_id(1), st.get_by_id(2))}
        assert rows[1]["status"] == "new"  # create_metadata default
        assert rows[1]["priority"] == 1 and rows[1]["data_valid"] is True
        assert rows[1]["created_time_us"] == 123
        assert rows[2]["status"] == "reviewed"
        assert rows[2]["data_valid"] is False and rows[2]["priority"] == 2

    def test_payload_stored_as_json(self, spark, tmp_path):
        st = MetadataStore(spark, str(tmp_path / "m"))
        payload = {"channels": {"U": [{"channel": "U_Volt", "scale": 100.0,
                                       "offset": 0.0}]}}
        (mid,) = st.create(
            [{"station": "BOU", "category": "instrument", "metadata": payload}]
        )
        import json

        assert json.loads(st.get_by_id(mid)["metadata"]) == payload

    def test_unknown_field_rejected(self, spark, tmp_path):
        st = MetadataStore(spark, str(tmp_path / "m"))
        with pytest.raises(ValueError, match="unknown"):
            st.create([{"station": "BOU", "bogus": 1}])
        (mid,) = st.create([{"station": "BOU"}])
        with pytest.raises(ValueError, match="unknown"):
            st.update(mid, {"id": 99}, updated_by="x")

    def test_update_archives_history(self, spark, tmp_path):
        st = MetadataStore(spark, str(tmp_path / "m"))
        (mid,) = st.create([{"station": "BOU", "comment": "v1"}], now_us=10)
        st.update(mid, {"comment": "v2"}, updated_by="alice", now_us=20)
        st.update(mid, {"comment": "v3"}, updated_by="bob", now_us=30)
        live = st.get_by_id(mid)
        assert live["comment"] == "v3" and live["updated_by"] == "bob"
        assert live["updated_time_us"] == 30
        # history: newest-first = live, then v2 image, then creation image
        hist = st.history_by_metadata_id(mid).collect()
        assert [r.comment for r in hist] == ["v3", "v2", "v1"]
        # archived rows point back at the live id; live row has NULL
        assert [r.metadata_id for r in hist] == [None, mid, mid]

    def test_update_missing_id_raises(self, spark, tmp_path):
        st = MetadataStore(spark, str(tmp_path / "m"))
        with pytest.raises(ValueError, match="0 records"):
            st.update(7, {"comment": "x"}, updated_by="a")

    def test_snapshot_time_travel(self, spark, tmp_path):
        st = MetadataStore(spark, str(tmp_path / "m"))
        st.create([{"station": "BOU"}])
        st.create([{"station": "FRD"}])
        st.update(1, {"comment": "later"}, updated_by="a")
        assert st.versions() == [1, 2, 3]
        assert st.read(version=1).count() == 1
        assert st.read(version=2).count() == 2
        v2 = st.read(version=2).where(F.col("id") == 1).first()
        assert v2.comment is None  # pre-update image
        with pytest.raises(ValueError, match="does not exist"):
            st.read(version=9)


class TestQueryFilters:
    @pytest.fixture()
    def table(self, spark):
        rows = [
            # id, created, start, end, network, station, channel, location,
            # category, valid, status
            (1, 100, None, T0202, "NT", "BOU", "BEU", "R0", "flag", True, "new"),
            (2, 200, T0202, T0203, "NT", "BOU", "BEH", "R1", "flag", False, "reviewed"),
            (3, 300, T0203, None, "NT", "FRD", None, None, "instrument", True, "new"),
        ]
        data = [
            (
                i, None, None, c, None, None, s, e, n, st, ch, lo, cat, 1, dv,
                stat, None, None, None,
            )
            for (i, c, s, e, n, st, ch, lo, cat, dv, stat) in rows
        ]
        return spark.createDataFrame(data, METADATA_SCHEMA)

    def ids(self, df):
        return sorted(r.id for r in df.collect())

    def test_like_patterns(self, table):
        assert self.ids(filter_metadata(table, channel="BE%")) == [1, 2]
        assert self.ids(filter_metadata(table, channel="BEH")) == [2]
        assert self.ids(filter_metadata(table, location="R_")) == [1, 2]

    def test_open_bound_overlap(self, table):
        # starttime filter keeps rows whose end is NULL or > starttime
        assert self.ids(filter_metadata(table, starttime_us=T0202)) == [2, 3]
        # endtime filter keeps rows whose start is NULL or < endtime
        assert self.ids(filter_metadata(table, endtime_us=T0202)) == [1]
        assert self.ids(
            filter_metadata(table, starttime_us=T0202 - US, endtime_us=T0202)
        ) == [1]

    def test_created_window_valid_status(self, table):
        assert self.ids(filter_metadata(table, created_after_us=150)) == [2, 3]
        assert self.ids(filter_metadata(table, created_before_us=150)) == [1]
        assert self.ids(filter_metadata(table, data_valid=False)) == [2]
        assert self.ids(filter_metadata(table, status=["reviewed"])) == [2]
        assert self.ids(
            filter_metadata(table, network="NT", station="BOU", category="flag")
        ) == [1, 2]


class TestInstrumentEpochsTable:
    def test_flattens_channel_components(self, spark, tmp_path):
        st = MetadataStore(spark, str(tmp_path / "m"))
        payload = {
            "channels": {
                "U": [
                    {"channel": "U_Volt", "offset": 0.0, "scale": 100.0},
                    {"channel": "U_Bin", "offset": 0.0, "scale": 500.0},
                ],
                "V": [{"channel": "V_Volt", "offset": 1.0, "scale": 200.0}],
            }
        }
        st.create(
            [
                {"station": "BOU", "category": "instrument",
                 "starttime_us": None, "endtime_us": T0202,
                 "metadata": payload},
                {"station": "BOU", "category": "observatory"},  # pruned
            ]
        )
        flat = instrument_epochs_table(st.read())
        got = {r.key: r for r in flat.collect()}
        assert set(got) == {"BOU/U/U_Volt", "BOU/U/U_Bin", "BOU/V/V_Volt"}
        assert got["BOU/U/U_Bin"].scale == 500.0
        assert got["BOU/V/V_Volt"].offset == 1.0
        assert got["BOU/U/U_Volt"].start_us is None
        assert got["BOU/U/U_Volt"].end_us == T0202


class TestApplyInstrumentMetadataNullBounds:
    @pytest.fixture()
    def facts(self, spark):
        rows = [("BOU", t, 1.0) for t in (T0202 - US, T0202, T0203)]
        rows.append(("XXX", T0202, 1.0))
        return spark.createDataFrame(rows, "url string, t_us long, value double")

    def test_open_ended_epochs_match(self, spark, facts):
        meta = spark.createDataFrame(
            [
                ("BOU", None, T0202, 10.0, 0.0),
                ("BOU", T0202, T0203, 20.0, 0.0),
                ("BOU", T0203, None, 30.0, 0.0),
            ],
            "url string, start_us long, end_us long, scale double, offset double",
        )
        out = apply_instrument_metadata(facts, meta)
        got = {(r.url, r.t_us): r.value for r in out.collect()}
        assert got[("BOU", T0202 - US)] == 10.0  # open start epoch
        assert got[("BOU", T0202)] == 20.0  # half-open boundary
        assert got[("BOU", T0203)] == 30.0  # open end epoch
        assert got[("XXX", T0202)] == 1.0  # default passthrough

    def test_strict_nulls_unmatched(self, spark, facts):
        meta = spark.createDataFrame(
            [("BOU", T0202, T0203, 20.0, 0.0)],
            "url string, start_us long, end_us long, scale double, offset double",
        )
        out = apply_instrument_metadata(facts, meta, strict=True)
        got = {(r.url, r.t_us): r.value for r in out.collect()}
        assert got[("BOU", T0202)] == 20.0
        assert got[("BOU", T0202 - US)] is None
        assert got[("XXX", T0202)] is None
        # row count is preserved — strict never drops rows
        assert out.count() == 4


class TestMetadataCli:
    """jobs/run_metadata.py — the geomag-metadata console-script analog
    (geomagio/metadata/main.py create/get/update)."""

    def _run(self, capsys, *argv):
        from jobs.run_metadata import main

        rc = main(list(argv))
        out = capsys.readouterr().out.strip().splitlines()[-1]
        import json as _json

        return rc, _json.loads(out)

    def test_create_get_update_history(self, spark, tmp_path, capsys):
        import json as _json

        store = str(tmp_path / "m")
        meta = tmp_path / "meta.json"
        meta.write_text(_json.dumps([
            {"station": "BOU", "category": "flag", "channel": "BEU",
             "comment": "v1"},
            {"station": "FRD", "category": "instrument"},
        ]))
        rc, created = self._run(capsys, "--store", store, "create",
                                "--input", str(meta))
        assert rc == 0 and [r["id"] for r in created] == [1, 2]
        assert created[0]["status"] == "new"

        rc, got = self._run(capsys, "--store", store, "get",
                            "--station", "BOU", "--getone")
        assert got["channel"] == "BEU"

        chg = tmp_path / "chg.json"
        chg.write_text('{"comment": "v2"}')
        rc, updated = self._run(capsys, "--store", store, "update",
                                "--id", "1", "--input", str(chg),
                                "--updated-by", "alice")
        assert updated["comment"] == "v2" and updated["updated_by"] == "alice"

        rc, hist = self._run(capsys, "--store", store, "history", "--id", "1")
        assert [h["comment"] for h in hist] == ["v2", "v1"]

    def test_getone_errors_on_multiple(self, spark, tmp_path, capsys):
        import json as _json

        store = str(tmp_path / "m")
        meta = tmp_path / "meta.json"
        meta.write_text(_json.dumps([
            {"station": "BOU"}, {"station": "BOU"},
        ]))
        self._run(capsys, "--store", store, "create", "--input", str(meta))
        with pytest.raises(SystemExit, match="2 matching"):
            self._run(capsys, "--store", store, "get",
                      "--station", "BOU", "--getone")


class TestCalculatedFromMetadata:
    """Metadata-driven calculated channels (get_calculated_timeseries,
    MiniSeedFactory.py:231-299, composed with the epoch store)."""

    def test_epoch_dependent_components(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.operators.misc import (
            calculated_channels_from_metadata,
        )

        st = MetadataStore(spark, str(tmp_path / "m"))
        # epoch 1 (until T0202): U = U_Volt*100; epoch 2 (from T0202,
        # open-ended): U = U_Volt*90 + U_Bin*500 (recalibrated + extra
        # component), V = V_Volt*200 + 1
        st.create([
            {"station": "BOU", "category": "instrument",
             "starttime_us": None, "endtime_us": T0202,
             "metadata": {"channels": {
                 "U": [{"channel": "U_Volt", "scale": 100.0, "offset": 0.0}],
             }}},
            {"station": "BOU", "category": "instrument",
             "starttime_us": T0202, "endtime_us": None,
             "metadata": {"channels": {
                 "U": [{"channel": "U_Volt", "scale": 90.0, "offset": 0.0},
                       {"channel": "U_Bin", "scale": 500.0, "offset": 0.0}],
                 "V": [{"channel": "V_Volt", "scale": 200.0, "offset": 1.0}],
             }}},
        ])
        from usgs_geomag_algorithms_spark.sources.metadata import (
            instrument_epochs_table,
        )

        epochs = instrument_epochs_table(st.read())
        t_old, t_new = T0202 - US, T0202
        facts = spark.createDataFrame(
            [
                ("BOU", "U_Volt", t_old, 2.0),
                ("BOU", "U_Volt", t_new, 2.0),
                ("BOU", "U_Bin", t_new, 3.0),
                ("BOU", "V_Volt", t_new, 4.0),
                # V_Volt in the OLD epoch: no V mapping then -> no output
                ("BOU", "V_Volt", t_old, 4.0),
                # foreign station never matches
                ("XXX", "U_Volt", t_new, 9.0),
            ],
            "url string, channel string, t_us long, value double",
        )
        out = calculated_channels_from_metadata(facts, epochs)
        got = {(r.url, r.channel, r.t_us): r.value for r in out.collect()}
        assert got[("BOU", "U", t_old)] == 200.0  # old calibration
        assert got[("BOU", "U", t_new)] == 2.0 * 90 + 3.0 * 500
        assert got[("BOU", "V", t_new)] == 4.0 * 200 + 1.0
        assert ("BOU", "V", t_old) not in got
        assert not any(k[0] == "XXX" for k in got)

    def test_incomplete_component_set_emits_nothing(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.operators.misc import (
            calculated_channels_from_metadata,
        )
        from usgs_geomag_algorithms_spark.sources.metadata import (
            instrument_epochs_table,
        )

        st = MetadataStore(spark, str(tmp_path / "m"))
        st.create([
            {"station": "BOU", "category": "instrument",
             "metadata": {"channels": {
                 "U": [{"channel": "U_Volt", "scale": 100.0, "offset": 0.0},
                       {"channel": "U_Bin", "scale": 500.0, "offset": 0.0}],
             }}},
        ])
        facts = spark.createDataFrame(
            [("BOU", "U_Volt", 0, 2.0)],  # U_Bin missing at this slot
            "url string, channel string, t_us long, value double",
        )
        out = calculated_channels_from_metadata(
            facts, instrument_epochs_table(st.read())
        )
        # the reference's aligned-trace sum would be NaN here; the engine
        # emits nothing rather than a fabricated partial sum
        assert out.count() == 0


class TestReferenceInstrumentTable:
    """The reference's REAL production instrument table
    (geomagio/Metadata.py _INSTRUMENT_METADATA, extracted at runtime)
    loaded through the store: open-interval resolution must agree with a
    direct implementation of the reference predicate for every station,
    and the payload flattener must recover the component lists."""

    @pytest.fixture(scope="class")
    def ref_rows(self):
        import ast
        import os

        path = "/root/reference/geomagio/Metadata.py"
        if not os.path.exists(path):
            pytest.skip("reference not present")
        tree = ast.parse(open(path).read())
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and getattr(node.targets[0], "id", "") == "_INSTRUMENT_METADATA"
            ):
                class T(ast.NodeTransformer):
                    def visit_Call(self, n):
                        self.generic_visit(n)
                        if getattr(n.func, "id", "") == "UTCDateTime":
                            return n.args[0]
                        return n

                v = T().visit(node.value)
                ast.fix_missing_locations(v)
                return ast.literal_eval(v)
        raise AssertionError("_INSTRUMENT_METADATA not found")

    @staticmethod
    def _t_us(v):
        if v is None:
            return None
        s = str(v).replace("Z", "")
        return us(s)

    @pytest.fixture(scope="class")
    def loaded(self, spark, ref_rows, tmp_path_factory):
        st = MetadataStore(
            spark, str(tmp_path_factory.mktemp("refmeta") / "m")
        )
        st.create([
            {
                "network": r.get("network"),
                "station": r["station"],
                "category": "instrument",
                "starttime_us": self._t_us(r.get("start_time")),
                "endtime_us": self._t_us(r.get("end_time")),
                "metadata": r["instrument"],
            }
            for r in ref_rows
        ])
        return st

    def test_resolution_matches_reference_predicate(
        self, spark, ref_rows, loaded
    ):
        md = loaded.read().persist()
        stations = sorted({r["station"] for r in ref_rows})
        windows = [
            (us("2015-06-01T00:00:00"), us("2015-07-01T00:00:00")),
            (us("2020-02-02T12:00:00"), us("2020-02-02T13:00:00")),
            (us("2023-01-01T00:00:00"), None),
            (None, us("2010-01-01T00:00:00")),
        ]
        for start, end in windows:
            got = {}
            for station in stations:
                rows = get_instrument(md, station, start, end).collect()
                got[station] = sorted(
                    (r.starttime_us, r.endtime_us) for r in rows
                )
            # the reference predicate, verbatim (Metadata.py:17-23)
            for station in stations:
                exp = sorted(
                    (self._t_us(m.get("start_time")), self._t_us(m.get("end_time")))
                    for m in ref_rows
                    if m["station"] == station
                    and (
                        end is None
                        or m.get("start_time") is None
                        or self._t_us(m["start_time"]) < end
                    )
                    and (
                        start is None
                        or m.get("end_time") is None
                        or self._t_us(m["end_time"]) > start
                    )
                )
                assert got[station] == exp, (station, start, end)
        md.unpersist()

    def test_flattened_components(self, ref_rows, loaded):
        flat = instrument_epochs_table(loaded.read()).collect()
        # every (entry, out_channel, component) surfaced exactly once
        exp_n = sum(
            len(comps)
            for r in ref_rows
            for comps in r["instrument"].get("channels", {}).values()
        )
        assert len(flat) == exp_n
        bou_u = [
            r for r in flat
            if r.station == "BOU" and r.out_channel == "U"
        ]
        assert {(r.component, r.scale) for r in bou_u} == {
            ("U_Volt", 100.0), ("U_Bin", 500.0)
        }


class TestReviewFixes:
    """Round-4 self-review findings pinned (code-review 32c4100..HEAD)."""

    def test_missing_scale_offset_default(self, spark, tmp_path):
        # a component omitting scale/offset must default 1.0/0.0, not
        # NULL-poison the derived sum
        from usgs_geomag_algorithms_spark.operators.misc import (
            calculated_channels_from_metadata,
        )

        st = MetadataStore(spark, str(tmp_path / "m"))
        st.create([
            {"station": "BOU", "category": "instrument",
             "metadata": {"channels": {
                 "U": [{"channel": "U_Volt", "scale": 100.0},
                       {"channel": "U_Bin"}],
             }}},
        ])
        epochs = instrument_epochs_table(st.read())
        got = {(r.component): (r.scale, r.offset) for r in epochs.collect()}
        assert got["U_Volt"] == (100.0, 0.0)
        assert got["U_Bin"] == (1.0, 0.0)
        facts = spark.createDataFrame(
            [("BOU", "U_Volt", 0, 2.0), ("BOU", "U_Bin", 0, 3.0)],
            "url string, channel string, t_us long, value double",
        )
        out = calculated_channels_from_metadata(facts, epochs).collect()
        assert len(out) == 1 and out[0].value == 2.0 * 100 + 3.0

    def test_decbas_without_trailing_text(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.sources.iaga2002 import (
            read_iaga2002_meta,
        )

        p = tmp_path / "x.min"
        p.write_text(
            " Format                 IAGA-2002"
            "                                    |\n"
            " IAGA CODE              BDT"
            "                                          |\n"
            " # DECBAS               5527"
            "                                         |\n"
            "DATE       TIME         DOY     "
            "BDTH      BDTD      BDTZ      BDTF   |\n"
        )
        md = read_iaga2002_meta(spark, str(p))["metadata"]
        # the reference's [:find(' ')] slice would store 552 here
        assert md["declination_base"] == 5527


class TestConcurrentWriters:
    """The commit lock queues concurrent writers (same discipline as the
    TierStore): parallel creates never lose rows or reuse ids."""

    def test_threaded_creates_all_land(self, spark, tmp_path):
        import threading

        st = MetadataStore(spark, str(tmp_path / "m"), lock_wait_s=30.0)
        errs = []

        def worker(k):
            try:
                st.create([{"station": f"S{k}", "comment": f"w{k}"}])
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        rows = st.read().collect()
        assert len(rows) == 8
        assert sorted(r.id for r in rows) == list(range(1, 9))  # no reuse
        assert {r.station for r in rows} == {f"S{k}" for k in range(8)}

    def test_lock_times_out_loudly(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.functions.filelock import (
            commit_lock,
        )
        from usgs_geomag_algorithms_spark.sources.metadata import (
            MetadataConflictError,
        )

        st = MetadataStore(spark, str(tmp_path / "m"), lock_wait_s=0.2)
        with commit_lock(st.base, 0.0, RuntimeError):
            with pytest.raises(MetadataConflictError):
                st.create([{"station": "BOU"}])
        # released lock -> the write goes through
        assert st.create([{"station": "BOU"}]) == [1]

    def test_stale_lock_from_dead_writer_is_broken(
        self, spark, tmp_path, lock_holder
    ):
        """r4 advice pin: a writer SIGKILLed while holding the commit
        lock must not wedge later writers. The kernel drops the lock with
        the process; the lock file itself stays (it is never unlinked)."""
        import os

        st = MetadataStore(spark, str(tmp_path / "m"), lock_wait_s=0.5)
        holder = lock_holder(st.base)
        holder.kill()
        holder.wait(10)
        assert st.create([{"station": "BOU"}]) == [1]  # no conflict raised
        assert os.path.exists(os.path.join(st.base, "_commit.lock"))

    def test_live_pid_lock_still_blocks(self, spark, tmp_path, lock_holder):
        """Counterpart: a lock held by a LIVE process is honored to
        timeout."""
        from usgs_geomag_algorithms_spark.sources.metadata import (
            MetadataConflictError,
        )

        st = MetadataStore(spark, str(tmp_path / "m"), lock_wait_s=0.2)
        lock_holder(st.base)
        with pytest.raises(MetadataConflictError):
            st.create([{"station": "BOU"}])
