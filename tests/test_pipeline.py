"""End-to-end pipeline + spark-submit CLI entry point."""

import json
import os
import subprocess
import sys

import pytest

from usgs_geomag_algorithms_spark.plans import pipeline
from usgs_geomag_algorithms_spark.sources.pages import BASE_EPOCH, generate_pages
from usgs_geomag_algorithms_spark.sources.store import TierStore
from usgs_geomag_algorithms_spark.tiers import US

T0 = BASE_EPOCH * US


class TestPipeline:
    def test_build_update_retention(self, spark, tmp_path):
        pages = generate_pages(spark, n_urls=3, hours=3.0, gap_pct=3.0, n_hot=3)
        store = TierStore(spark, str(tmp_path / "tiers"), n_buckets=4)
        m = pipeline.build_tiers(
            pages, store, T0 - 45 * US, T0 + (3 * 3600 - 1) * US,
            channels=("text_len",), pack_coarse=("hour",),
        )
        assert m["tiers"]["minute"] > 0
        assert m["tiers"]["hour"] == 3 * 3  # 3 urls x 3 hours
        # coarse tier also persisted Gorilla-packed, bit-exact
        packed = sorted(map(tuple, store.read_packed("hour").collect()))
        plain = sorted(map(tuple, store.read("hour").collect()))
        assert packed == plain
        # every tier, packed siblings included, commits through one
        # manifest: one file per version, no second current-snapshot copy
        tiers = [*m["tiers"], "hour_packed"]
        assert {"minute", "hour", "day"} <= set(tiers)
        for t in tiers:
            names = os.listdir(store.path(t))
            assert "_manifests" in names and "_manifest.json" not in names, t
        report = store.fsck("hour_packed")
        assert report["ok"] and not report["orphans"], report
        # lineage recorded per tier
        assert len(store.read_lineage("hour")) >= 1

        # update mode: no gaps -> nothing recomputed, idempotent
        hour_stamp = T0 + (29 * 60 + 30) * US
        u = pipeline.update_tiers(
            store, hour_stamp, hour_stamp + 2 * 3600 * US
        )
        assert u["hour"]["gaps_filled"] == 0

        dropped = pipeline.apply_retention(
            store, T0 + 400 * 365 * 86400 * US,
            retention_us={"minute": 86400 * US},
        )
        assert dropped["minute"]  # everything older than a day dropped

    def test_cli_build(self, spark, tmp_path):
        pages = generate_pages(spark, n_urls=2, hours=1.0, n_hot=2)
        pages_path = str(tmp_path / "pages")
        pages.write.parquet(pages_path)
        out = subprocess.run(
            [
                sys.executable, "jobs/run_cascade.py",
                "--pages", pages_path,
                "--store", str(tmp_path / "tiers"),
                "--start", "2020-01-06T00:00:00",
                "--end", "2020-01-06T00:59:59",
                "--channels", "text_len",
            ],
            capture_output=True, text=True, timeout=600, cwd="/root/repo",
        )
        assert out.returncode == 0, out.stderr[-2000:]
        metrics = json.loads(out.stdout.strip().splitlines()[-1])
        assert metrics["tiers"]["minute"] > 0


class TestMaintain:
    def test_maintain_cli(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.sources.store import TierStore

        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        rows = [
            ("u", "text_len", T0 + i * 60 * US, float(i)) for i in range(120)
        ]
        store.write(
            spark.createDataFrame(
                rows, "url string, channel string, t_us long, value double"
            ).repartition(6),
            "minute",
        )
        from jobs.run_cascade import main as cascade_main
        import json as _json
        import io, contextlib

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cascade_main([
                "--store", str(tmp_path / "t"), "--mode", "maintain",
                "--start", "2020-01-01T00:00:00", "--end", "2020-01-01T02:00:00",
            ])
        assert rc == 0
        m = _json.loads(buf.getvalue().strip().splitlines()[-1])
        assert "compaction" in m and m["compaction"]["minute"]["files_after"] >= 1
        assert sorted(map(tuple, store.read("minute").collect())) == sorted(
            map(tuple, spark.createDataFrame(
                rows, "url string, channel string, t_us long, value double"
            ).collect())
        )


class TestSparkSubmit:
    def test_pyfiles_cluster_submission(self, spark, tmp_path):
        """The north-rule deployment shape, for real: build the
        deterministic --py-files archive, copy the job OUTSIDE the repo
        (so the package can only come from the archive), and run it
        through actual spark-submit. Asserts the job builds tiers and the
        store is readable back in-process."""
        import os
        import shutil
        import subprocess
        import sys

        import pyspark

        from tools.make_pyfiles import build
        from usgs_geomag_algorithms_spark.sources.pages import generate_pages
        from usgs_geomag_algorithms_spark.sources.store import TierStore

        pages = str(tmp_path / "pages")
        generate_pages(spark, n_urls=3, hours=2.0, n_hot=3).write.parquet(pages)
        zip_path = str(tmp_path / "pkg.zip")
        build(zip_path)
        job = str(tmp_path / "run_cascade.py")
        shutil.copy(
            os.path.join(os.path.dirname(os.path.dirname(__file__)),
                         "jobs", "run_cascade.py"),
            job,
        )
        submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["PYSPARK_PYTHON"] = sys.executable
        out = subprocess.run(
            [
                submit, "--master", "local[4]", "--py-files", zip_path, job,
                "--pages", pages, "--store", str(tmp_path / "t"),
                "--start", "2020-01-06T00:00:00",
                "--end", "2020-01-06T01:59:59",
                "--channels", "text_len",
            ],
            capture_output=True, text=True, timeout=280,
            cwd=str(tmp_path), env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        import json as _json

        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        metrics = _json.loads(line)
        assert metrics["tiers"]["minute"] > 0
        store = TierStore(spark, str(tmp_path / "t"))
        assert store.read("minute").count() == metrics["tiers"]["minute"]


class TestEraseAndPublish:
    def _seed(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=4)
        rows = [
            (u, "text_len", T0 + i * 60 * US, float(i))
            for u in ("u0", "u1", "u2")
            for i in range(90)
        ]
        store.write(
            spark.createDataFrame(
                rows, "url string, channel string, t_us long, value double"
            ),
            "minute",
        )
        store.write_packed(store.read("minute"), "minute")
        return store

    def test_erase_cli_all_layouts(self, spark, tmp_path):
        store = self._seed(spark, tmp_path)
        from jobs.run_cascade import main as cascade_main
        import io, contextlib, json as _json

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cascade_main([
                "--store", str(tmp_path / "t"), "--mode", "erase",
                "--urls", "u1",
            ])
        assert rc == 0
        m = _json.loads(buf.getvalue().strip().splitlines()[-1])
        assert m["minute"]["rows_deleted"] == 90
        assert m["minute_packed"]["rows_deleted"] >= 1  # u1's segments
        assert store.read("minute").where("url = 'u1'").count() == 0
        assert store.read_packed("minute").where("url = 'u1'").count() == 0
        # survivors intact in BOTH layouts
        assert store.read("minute").count() == 180
        assert store.read_packed("minute").count() == 180

    def test_erase_packed_only_segment_filter(self, spark, tmp_path):
        store = self._seed(spark, tmp_path)
        packed = store.packed_view()
        out = packed.delete_series("minute_packed", ["u0", "u1"])
        assert out["rows_deleted"] >= 2  # segment rows, no decode
        assert store.read_packed("minute").where(
            "url in ('u0','u1')"
        ).count() == 0
        assert store.read_packed("minute").count() == 90
        assert store.read("minute").count() == 270  # long layout untouched
        # idempotent: second erase is a no-op
        again = packed.delete_series("minute_packed", ["u0", "u1"])
        assert again["rows_deleted"] == 0

    @staticmethod
    def _urls_on_disk(base):
        import pyarrow.parquet as pq

        return {
            u
            for r, _, fs in os.walk(base)
            for f in fs
            if f.endswith(".parquet")
            for u in pq.read_table(os.path.join(r, f), columns=["url"])
            .column("url")
            .to_pylist()
        }

    def test_hard_erase_unlinks_packed_victim_segments(self, spark, tmp_path):
        store = self._seed(spark, tmp_path)

        def urls_on_disk():
            return self._urls_on_disk(store.path("minute_packed"))

        # hard: no parquet file under minute_packed holds a victim segment
        pipeline.erase_urls(store, ["u0"], tiers=("minute",), hard=True)
        assert urls_on_disk() == {"u1", "u2"}
        assert store.read_packed("minute").count() == 180
        # a default erase is a soft snapshot commit: the victim's
        # segments stay in trash for the time-travel grace
        packed = store.packed_view()
        v = packed.current_version("minute_packed")
        pipeline.erase_urls(store, ["u1"], tiers=("minute",))
        assert "u1" in urls_on_disk()
        assert packed.read("minute_packed", as_of_version=v).where(
            "url = 'u1'"
        ).count() >= 1
        assert store.read_packed("minute").count() == 90

    def test_hard_erase_reaches_trashed_copies(self, spark, tmp_path):
        store = self._seed(spark, tmp_path)
        # a second build retires the first files to trash, where they
        # still hold every url's rows for the time-travel grace
        store.write(store.read("minute"), "minute")
        store.write_packed(store.read("minute"), "minute")
        pipeline.erase_urls(store, ["u0"], tiers=("minute",), hard=True)
        for tier in ("minute", "minute_packed"):
            assert self._urls_on_disk(store.path(tier)) == {"u1", "u2"}
        # a soft erase retires u1's files to trash; a hard erase that
        # follows it unlinks them although none is live any more
        pipeline.erase_urls(store, ["u1"], tiers=("minute",))
        assert "u1" in self._urls_on_disk(store.path("minute_packed"))
        pipeline.erase_urls(store, ["u1"], tiers=("minute",), hard=True)
        for tier in ("minute", "minute_packed"):
            assert self._urls_on_disk(store.path(tier)) == {"u2"}
        assert store.read("minute").count() == 90
        assert store.read_packed("minute").count() == 90

    def test_publish_cli_flips_all_tiers(self, spark, tmp_path):
        store = self._seed(spark, tmp_path)
        consumer = TierStore(
            spark, str(tmp_path / "t"), n_buckets=4, read_ref="published"
        )
        assert consumer.read("minute").count() == 0
        from jobs.run_cascade import main as cascade_main
        import io, contextlib, json as _json

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cascade_main([
                "--store", str(tmp_path / "t"), "--mode", "publish",
            ])
        assert rc == 0
        m = _json.loads(buf.getvalue().strip().splitlines()[-1])
        assert m["minute"] == store.current_version("minute")
        assert consumer.read("minute").count() == 270


class TestSeriesForeach:
    """Per-series CLI fan-out + deprecated-argument rewrite parity
    (Controller.py:696-712 observatory foreach, :1311-1383 legacy args)."""

    def _pages(self, spark, tmp_path):
        pages = generate_pages(spark, n_urls=3, hours=1.0, n_hot=3)
        path = str(tmp_path / "pages")
        pages.write.parquet(path)
        urls = sorted(r.url for r in pages.select("url").distinct().collect())
        return path, urls

    def test_foreach_builds_each_series(self, spark, tmp_path, capsys):
        from jobs.run_cascade import main as cascade_main

        path, urls = self._pages(spark, tmp_path)
        rc = cascade_main([
            "--pages", path, "--store", str(tmp_path / "t"),
            "--start", "2020-01-06T00:00:00", "--end", "2020-01-06T00:59:59",
            "--channels", "text_len",
            "--series-foreach", "--series", urls[0], urls[1],
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert sorted(out["series"]) == sorted(urls[:2])
        assert out["failed"] == []
        # each series carries its own run_id and landed its own rows
        for u in urls[:2]:
            assert out["series"][u]["run_id"].endswith(u)
            assert out["series"][u]["tiers"]["minute"] > 0
        # the shared store holds BOTH series (per-series upsert — a
        # plain write would have retired the first series' partitions)
        store = TierStore(spark, str(tmp_path / "t"))
        got = {r.url for r in store.read("minute").select("url").distinct().collect()}
        assert got == set(urls[:2])
        # per-series lineage rows
        runs = {r["run_id"] for r in store.read_lineage("minute")}
        assert any(r.endswith(urls[0]) for r in runs)
        assert any(r.endswith(urls[1]) for r in runs)

    def test_deprecated_observatory_aliases(self, spark, tmp_path, capsys):
        from jobs.run_cascade import main as cascade_main

        path, urls = self._pages(spark, tmp_path)
        rc = cascade_main([
            "--input-pages", path, "--output-store", str(tmp_path / "t2"),
            "--start", "2020-01-06T00:00:00", "--end", "2020-01-06T00:59:59",
            "--channels", "text_len",
            "--observatory-foreach", "--observatory", urls[0],
        ])
        captured = capsys.readouterr()
        assert rc == 0
        assert "deprecated arguments" in captured.err
        out = json.loads(captured.out.strip().splitlines()[-1])
        assert list(out["series"]) == [urls[0]]

    def test_deprecated_alias_conflicts_rejected(self, tmp_path, capsys):
        """r4 advice pin: a deprecated flag may not silently override its
        new spelling, and an empty --series list is a usage error (it
        would otherwise behave like an unrestricted overwrite build)."""
        from jobs.run_cascade import main as cascade_main

        with pytest.raises(SystemExit) as exc:
            cascade_main([
                "--pages", "x", "--store", str(tmp_path / "t"),
                "--observatory", "u1", "--series", "u2",
            ])
        assert exc.value.code == 2
        assert "do not combine" in capsys.readouterr().err

        with pytest.raises(SystemExit):
            cascade_main([
                "--pages", "x", "--store", str(tmp_path / "t"), "--series",
            ])
        assert "at least one value" in capsys.readouterr().err

        with pytest.raises(SystemExit):
            cascade_main([
                "--input-pages", "x", "--pages", "y",
                "--store", str(tmp_path / "t"),
            ])

    def test_foreach_reports_failures_and_exits_nonzero(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        from jobs import run_cascade
        from usgs_geomag_algorithms_spark.plans import pipeline as pl

        path, urls = self._pages(spark, tmp_path)
        real = pl.build_tiers

        def flaky(pages, store, *a, **kw):
            if kw.get("run_id", "").endswith(urls[0]):
                raise RuntimeError("boom")
            return real(pages, store, *a, **kw)

        monkeypatch.setattr(pl, "build_tiers", flaky)
        rc = run_cascade.main([
            "--pages", path, "--store", str(tmp_path / "t3"),
            "--start", "2020-01-06T00:00:00", "--end", "2020-01-06T00:59:59",
            "--channels", "text_len",
            "--series-foreach", "--series", urls[0], urls[1],
        ])
        captured = capsys.readouterr()
        assert rc == 1  # unlike the reference's dead flag, failures exit 1
        assert f"Exception processing series {urls[0]}" in captured.err
        out = json.loads(captured.out.strip().splitlines()[-1])
        assert out["failed"] == [urls[0]]
        assert list(out["series"]) == [urls[1]]  # the loop continued


class TestSeriesFilterFixes:
    """Round-4 self-review: series-filtered builds must merge, and
    foreach must still honor --retention-now."""

    def test_series_filter_without_foreach_merges(self, spark, tmp_path, capsys):
        from jobs.run_cascade import main as cascade_main

        pages = generate_pages(spark, n_urls=3, hours=1.0, n_hot=3)
        path = str(tmp_path / "pages")
        pages.write.parquet(path)
        urls = sorted(r.url for r in pages.select("url").distinct().collect())
        store_path = str(tmp_path / "t")
        base = ["--pages", path, "--store", store_path,
                "--start", "2020-01-06T00:00:00",
                "--end", "2020-01-06T00:59:59", "--channels", "text_len"]
        assert cascade_main(base + ["--series", urls[0]]) == 0
        # second single-series build over the SAME dates must not retire
        # the first series' rows (upsert, not partition overwrite)
        assert cascade_main(base + ["--series", urls[1]]) == 0
        store = TierStore(spark, store_path)
        got = {r.url for r in store.read("minute").select("url").distinct().collect()}
        assert got == set(urls[:2])

    def test_foreach_applies_retention(self, spark, tmp_path, capsys):
        from jobs.run_cascade import main as cascade_main

        pages = generate_pages(spark, n_urls=2, hours=1.0, n_hot=2)
        path = str(tmp_path / "pages")
        pages.write.parquet(path)
        urls = sorted(r.url for r in pages.select("url").distinct().collect())
        rc = cascade_main([
            "--pages", path, "--store", str(tmp_path / "t"),
            "--start", "2020-01-06T00:00:00", "--end", "2020-01-06T00:59:59",
            "--channels", "text_len",
            "--series-foreach", "--series", urls[0],
            "--retention-now", "2420-01-01T00:00:00",  # everything expires
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "retention_dropped" in out
        assert any(out["retention_dropped"].values())
