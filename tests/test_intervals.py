"""Binned interval join vs a brute-force reference; slot-run detection."""

from hypothesis import given, settings, strategies as st

from usgs_geomag_algorithms_spark.operators.intervals import (
    interval_point_join,
)

BIN = 100

INTERVALS = [
    # (key, start, end, tag) — overlapping, adjacent, tiny, empty, long
    ("u1", 100, 300, "a"),
    ("u1", 250, 500, "b"),      # overlaps a
    ("u1", 500, 501, "c"),      # 1-wide, adjacent to b (half-open)
    ("u1", 600, 600, "empty"),  # zero-length: matches nothing
    ("u2", 0, 1000, "wide"),
    ("u3", 150, 250, "other-key"),
]

POINTS = [
    ("u1", 99), ("u1", 100), ("u1", 250), ("u1", 299), ("u1", 300),
    ("u1", 499), ("u1", 500), ("u1", 600), ("u2", 0), ("u2", 999),
    ("u2", 1000), ("u4", 200),
]


def ref_join(how):
    out = []
    for k, t in POINTS:
        hits = [
            (k, t, s, e, tag)
            for kk, s, e, tag in INTERVALS
            if kk == k and s <= t < e
        ]
        if hits:
            out.extend(hits)
        elif how == "left":
            out.append((k, t, None, None, None))
    return sorted(out, key=lambda r: (r[0], r[1], str(r[4])))


def dfs(spark):
    iv = spark.createDataFrame(
        INTERVALS, "user_id string, start_us long, end_us long, tag string"
    )
    pt = spark.createDataFrame(POINTS, "user_id string, t_us long")
    return iv, pt


class TestIntervalPointJoin:
    def _got(self, spark, how):
        iv, pt = dfs(spark)
        rows = interval_point_join(
            iv, pt, BIN, keys=("user_id",), how=how
        ).collect()
        return sorted(
            ((r.user_id, r.t_us, r.start_us, r.end_us, r.tag) for r in rows),
            key=lambda r: (r[0], r[1], str(r[4])),
        )

    def test_inner_matches_bruteforce(self, spark):
        assert self._got(spark, "inner") == ref_join("inner")

    def test_left_keeps_unmatched_points_once(self, spark):
        got = self._got(spark, "left")
        assert got == ref_join("left")
        # the wide interval spans many bins; its unmatched-point logic
        # must not duplicate: u2@1000 is outside [0,1000) exactly once
        assert got.count(("u2", 1000, None, None, None)) == 1

    def test_bin_width_invariance(self, spark):
        iv, pt = dfs(spark)
        for bin_us in (7, 100, 1024, 10_000):
            rows = interval_point_join(iv, pt, bin_us).collect()
            got = sorted(
                ((r.user_id, r.t_us, r.tag) for r in rows),
                key=lambda r: (r[0], r[1], r[2]),
            )
            assert got == [
                (k, t, tag) for k, t, _, _, tag in ref_join("inner")
            ], bin_us

    def test_no_nested_loop_join(self, spark):
        iv, pt = dfs(spark)
        out = interval_point_join(iv, pt, BIN)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "BroadcastNestedLoopJoin" not in plan

    def test_rejects_bad_args(self, spark):
        import pytest

        iv, pt = dfs(spark)
        with pytest.raises(ValueError):
            interval_point_join(iv, pt, 0)
        with pytest.raises(ValueError):
            interval_point_join(iv, pt, BIN, how="full")


class TestSlotRuns:
    """slot_runs: island detection over a slot grid as one boundary-vote
    aggregate (the pairing itself is property-tested below, Spark-free)."""

    def test_matches_naive_runs(self, spark):
        from usgs_geomag_algorithms_spark.operators.gaps import slot_runs

        iv = 60
        slots = [0, 60, 120, 300, 360, 600, 1200, 1260, 1320, 1380]
        df = spark.createDataFrame([(t,) for t in slots], "t_us long")
        assert slot_runs(df, iv) == [(0, 120), (300, 360), (600, 600), (1200, 1380)]

    def test_single_slot_and_empty(self, spark):
        from usgs_geomag_algorithms_spark.operators.gaps import slot_runs

        one = spark.createDataFrame([(42,)], "t_us long")
        assert slot_runs(one, 10) == [(42, 42)]
        empty = spark.createDataFrame([], "t_us long")
        assert slot_runs(empty, 10) == []

    def test_unordered_input(self, spark):
        from usgs_geomag_algorithms_spark.operators.gaps import slot_runs

        slots = [120, 0, 60, 600, 540]
        df = spark.createDataFrame([(t,) for t in slots], "t_us long").repartition(4)
        assert slot_runs(df, 60) == [(0, 120), (540, 600)]

    def test_off_grid_slot_raises(self, spark):
        import pytest

        from usgs_geomag_algorithms_spark.operators.gaps import slot_runs

        # 90 sits between two on-grid slots: the run 0..180 stays whole,
        # and the off-grid slot is a run of its own on a second residue
        df = spark.createDataFrame([(t,) for t in (0, 60, 90, 120, 180)], "t_us long")
        with pytest.raises(ValueError, match="residues"):
            slot_runs(df, 60)

    def test_plan_is_one_aggregate(self, spark):
        from usgs_geomag_algorithms_spark.functions.winguard import MARKER
        from usgs_geomag_algorithms_spark.operators.gaps import slot_run_boundaries

        df = spark.range(1000).selectExpr("id * 60 AS t_us")
        plan = slot_run_boundaries(df, 60)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and MARKER not in plan and "Sort" not in plan
        assert plan.count("Exchange") == 1


def naive_runs(slots, iv):
    """Sorted-set run detector: consecutive slots ``iv`` apart share a run."""
    runs = []
    for t in sorted(set(slots)):
        if runs and t == runs[-1][1] + iv:
            runs[-1][1] = t
        else:
            runs.append([t, t])
    return [tuple(r) for r in runs]


def vote_boundaries(slots, iv):
    """The boundary rows slot_run_boundaries' aggregate yields, in Python."""
    bits = {}
    for t in slots:
        for key, b in ((t, 1), (t + iv, 2), (t - iv, 4)):
            bits[key] = bits.get(key, 0) | b
    return [(t, b) for t, b in bits.items() if b in (1, 3, 5)]


class TestPairRunBoundaries:
    """pair_run_boundaries against the naive detector: negative stamps,
    non-zero residues, duplicates, empty input and single slots."""

    @settings(max_examples=300, deadline=None)
    @given(
        st.integers(1, 50),
        st.data(),
        st.lists(st.integers(-40, 40), max_size=30),
    )
    def test_matches_naive_detector(self, iv, data, ks):
        from usgs_geomag_algorithms_spark.operators.gaps import pair_run_boundaries

        r = data.draw(st.integers(0, iv - 1))
        slots = [k * iv + r for k in ks]
        rows = vote_boundaries(slots, iv)
        data.draw(st.randoms()).shuffle(rows)
        assert pair_run_boundaries(rows, iv) == naive_runs(slots, iv)

    @settings(max_examples=100, deadline=None)
    @given(
        st.integers(2, 50),
        st.data(),
        st.lists(st.integers(-40, 40), min_size=1, max_size=20),
    )
    def test_second_residue_raises(self, iv, data, ks):
        import pytest

        from usgs_geomag_algorithms_spark.operators.gaps import pair_run_boundaries

        off = data.draw(st.integers(-40 * iv, 40 * iv).filter(lambda t: t % iv))
        slots = [k * iv for k in ks] + [off]
        with pytest.raises(ValueError):
            pair_run_boundaries(vote_boundaries(slots, iv), iv)
