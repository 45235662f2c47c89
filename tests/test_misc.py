"""Calculated channels, metadata range join, renames, point lookup, JSON
sink, operator registry, custom-coefficient load."""

import json

import numpy as np
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.functions.windows import load_coefficients_json
from usgs_geomag_algorithms_spark.operators import algorithms, get_algorithm
from usgs_geomag_algorithms_spark.operators.misc import (
    apply_instrument_metadata,
    calculated_channel,
    rename_channels,
    value_at,
)
from usgs_geomag_algorithms_spark.sources.imfjson import to_imfjson
from usgs_geomag_algorithms_spark.tiers import US, Step

T0 = 1577836800 * US
MIN = 60 * US


class TestMisc:
    def test_calculated_channel(self, spark):
        df = spark.createDataFrame(
            [(T0, 2.0, 3.0)], schema="t_us long, U_Volt double, U_Bin double"
        )
        out = calculated_channel(
            df, "U",
            [{"channel": "U_Volt", "scale": 100.0},
             {"channel": "U_Bin", "scale": 500.0, "offset": 1.0}],
        ).collect()[0]
        assert out.U == 2.0 * 100 + (3.0 * 500 + 1.0)

    def test_instrument_metadata_range_join(self, spark):
        df = spark.createDataFrame(
            [("u", T0, 1.0), ("u", T0 + MIN, 1.0), ("v", T0, 1.0)],
            schema="url string, t_us long, value double",
        )
        meta = spark.createDataFrame(
            [("u", T0, T0 + MIN, 10.0, 5.0)],  # half-open [T0, T0+MIN)
            schema="url string, start_us long, end_us long, scale double, offset double",
        )
        got = {(r.url, r.t_us): r.value for r in apply_instrument_metadata(df, meta).collect()}
        assert got[("u", T0)] == 15.0       # scaled in range
        assert got[("u", T0 + MIN)] == 1.0  # epoch end is exclusive -> identity
        assert got[("v", T0)] == 1.0        # no metadata -> identity

    def test_adjacent_epochs_no_duplicates(self, spark):
        df = spark.createDataFrame(
            [("u", T0 + MIN, 1.0)], schema="url string, t_us long, value double"
        )
        meta = spark.createDataFrame(
            [("u", T0, T0 + MIN, 10.0, 0.0), ("u", T0 + MIN, T0 + 2 * MIN, 20.0, 0.0)],
            schema="url string, start_us long, end_us long, scale double, offset double",
        )
        out = apply_instrument_metadata(df, meta).collect()
        assert len(out) == 1            # boundary row matches exactly once
        assert out[0].value == 20.0     # the epoch STARTING at the boundary

    def test_rename_channels(self, spark):
        df = spark.createDataFrame(
            [("H",), ("E",), ("Z",)], schema="channel string"
        )
        out = {r.channel for r in rename_channels(df, {"H": "U", "E": "V"}).collect()}
        assert out == {"U", "V", "Z"}

    def test_value_at_exact_and_asof(self, spark):
        df = spark.createDataFrame(
            [("u", "H", T0, 1.0), ("u", "H", T0 + 2 * MIN, 3.0)],
            schema="url string, channel string, t_us long, value double",
        )
        assert value_at(df, T0 + 2 * MIN).collect()[0].value == 3.0
        assert value_at(df, T0 + MIN).count() == 0  # exact: no sample
        asof = value_at(df, T0 + MIN, exact=False).collect()[0]
        assert (asof.t_us, asof.value) == (T0, 1.0)

    def test_imfjson(self, spark):
        df = spark.createDataFrame(
            [("u", "H", T0, 1.5), ("u", "H", T0 + MIN, None)],
            schema="url string, channel string, t_us long, value double",
        )
        row = to_imfjson(df).collect()[0]
        doc = json.loads(row.json)
        assert doc["times"] == [T0, T0 + MIN]
        assert doc["values"][0] == 1.5 and len(doc["values"]) in (1, 2)

    def test_registry(self):
        assert "filter" in algorithms() and "sqdist" in algorithms()
        fn = get_algorithm("dbdt")
        assert callable(fn)

    def test_custom_coefficients_json(self, tmp_path):
        path = tmp_path / "coeffs.json"
        path.write_text(json.dumps({"window": [1.0, 2.0, 1.0], "type": "firfilter"}))
        data = load_coefficients_json(str(path))
        step = Step(
            name=data["name"], data_interval="second",
            input_sample_period=0.1, output_sample_period=1.0,
            window=data["window"], type=data["type"],
        )
        np.testing.assert_array_equal(step.window, [1.0, 2.0, 1.0])
        np.testing.assert_almost_equal(step.normalized_window.sum(), 1.0)


class TestPyFilesArchive:
    def test_zip_deterministic_and_complete(self, tmp_path):
        import subprocess
        import sys as _sys

        out1, out2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
        # build twice in subprocesses; archives must be byte-identical
        for out in (out1, out2):
            subprocess.run(
                [_sys.executable, "tools/make_pyfiles.py", out],
                check=True, capture_output=True, cwd="/root/repo",
            )
        assert open(out1, "rb").read() == open(out2, "rb").read()
        # the archive is importable as a --py-files entry
        probe = subprocess.run(
            [_sys.executable, "-c",
             "import sys; sys.path.insert(0, sys.argv[1]); "
             "from usgs_geomag_algorithms_spark.tiers import STEPS; "
             "print(len(STEPS))", out1],
            check=True, capture_output=True, text=True,
        )
        assert probe.stdout.strip() == "4"


class TestHotSeriesShare:
    def test_share_counted_across_files_and_batches(self, tmp_path):
        # Spark-free: two parquet files, small row groups, one hot url
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tools.bench_scaling import hot_series_share

        urls = [["hot"] * 30 + ["a"] * 6 + ["b"] * 4, ["hot"] * 10 + ["b"] * 10]
        for i, col in enumerate(urls):
            table = pa.table({"url": col, "status": list(range(len(col)))})
            pq.write_table(table, tmp_path / f"part-{i}.parquet", row_group_size=7)
        assert hot_series_share(str(tmp_path)) == 40 / 60
