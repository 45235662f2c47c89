"""The benchmark's two seeded workloads and their output checks.

Every workload drives the engine through its public entry points only
(``plans.pipeline.build_tiers`` / ``update_tiers`` / ``sync_changed``,
``plans.serve.get_timeseries``) on pages made by
``sources.pages.generate_pages`` from the run's seed.

- ``backfill``: one op builds every tier of the whole input into a fresh
  TierStore, hour and day also Gorilla-packed.
- ``refresh``: set-up builds the store's leading hours; one op is the cron
  cycle for the next hour of input: ``build_tiers(slice, upsert=True)``,
  then ``update_tiers`` over the calendar day the slice touches, which
  fills missing slots, then ``sync_changed`` from the minute tier's version
  before the cycle, which recomputes slots whose input changed. The cycles
  are the last hours of the day, so the day completes during them.

After its timed ops each workload serves reads from the store the ops left:
one closed-loop client sends rounds of one ``get_timeseries(pad=True)``
read per read kind the store holds (minute, hour, day, ``tier="auto"``,
and for backfill packed hour and packed day). No record of real serving
traffic exists, so the mix is uniform over these kinds, each read asks for
one url drawn from the seed, and its range is the whole span of input the
store holds. (Ranges drawn from the seed made the work per read, and with
it the median read time, vary with the seed more than the bound allows.)

Checks run after the timed loop, so they never count in a timing. An op
fails if it raises or if any of its outputs disagree with the check.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark import tiers
from usgs_geomag_algorithms_spark.operators.spine import grid_start_us
from usgs_geomag_algorithms_spark.plans import pipeline, serve
from usgs_geomag_algorithms_spark.sources.pages import BASE_EPOCH, generate_pages
from usgs_geomag_algorithms_spark.sources.store import TierStore
from usgs_geomag_algorithms_spark.tiers import INTERVAL_SECONDS, US

from tests.oracle_numpy import apply_step_oracle

from proctree import tree_cpu_s

SEC_MIN, MIN_HOUR, MIN_DAY = tiers.STEPS[1], tiers.STEPS[2], tiers.STEPS[3]
CHANNELS = ("text_len", "lang_en")
T0 = BASE_EPOCH * US
HOUR = 3600 * US
DAY = 24 * HOUR
FIR_HALF = SEC_MIN.half_width_us  # 45 s: the sec->min filter's reach
REL_TOL = 1e-9


@dataclass
class Read:
    kind: str
    ms: float
    cpu_ms: float
    rows: int


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float
    points: int
    reads: list[Read] = field(default_factory=list)


class Context:
    """What a workload needs from the runner: the session, a scratch
    directory inside the checkout, the seed and the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = random.Random(seed)

    def timed(self, fn):
        """Run ``fn``; return (result, wall seconds, process-tree CPU s)."""
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        return out, wall, tree_cpu_s() - cpu0

    def make_pages(self, n_urls: int, hours: float, n_hot: int):
        path = os.path.join(self.work, "pages_input")
        generate_pages(
            self.spark, n_urls=n_urls, hours=hours, seed=self.seed, n_hot=n_hot
        ).write.parquet(path)
        return self.spark.read.parquet(path)


def unit_count(seconds: float, unit_s: float) -> int:
    """Units that fill ``seconds`` at the workload's nominal unit time.
    The count depends on ``--seconds`` only, never on how fast this host
    runs today, so every run times the same units (a host-dependent count
    would move the median along the JIT warm-up curve)."""
    return max(2, round(seconds / unit_s))


def _ts(us: int):
    return F.timestamp_micros(F.lit(int(us)))


def n_slots(tier: str, start_us: int, end_us: int) -> int:
    """Grid slots of ``tier`` in [start_us, end_us] (the serving spine)."""
    delta_us = int(round(INTERVAL_SECONDS[tier] * US))
    t0 = grid_start_us(start_us, INTERVAL_SECONDS[tier])
    return (end_us - t0) // delta_us + 1 if t0 <= end_us else 0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def same(a, b) -> bool:
    """Null-aware value equality: NULL, NaN and an absent row agree."""
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def tier_rows(store: TierStore, tier: str) -> dict:
    """{(url, channel, t_us): value} of a tier's long layout."""
    pdf = store.read(tier).toPandas()
    return {
        (u, c, int(t)): (None if v is None or v != v else float(v))
        for u, c, t, v in zip(pdf.url, pdf.channel, pdf.t_us, pdf.value)
    }


def check_read(pdf, tier, start_us, end_us, expected_series, truth) -> list[str]:
    """A padded read returns every expected series on exactly the spine's
    slots, each slot holding the truth value (absent = NULL)."""
    errs = []
    got_series = set(zip(pdf.url, pdf.channel))
    if got_series != set(expected_series):
        errs.append(
            f"{tier} read [{start_us},{end_us}]: series {sorted(got_series)} "
            f"!= {sorted(expected_series)}"
        )
    n = n_slots(tier, start_us, end_us)
    for key in got_series:
        sub = pdf[(pdf.url == key[0]) & (pdf.channel == key[1])]
        if len(sub) != n or sub.t_us.nunique() != n:
            errs.append(f"{tier} read {key}: {len(sub)} rows, spine has {n}")
            continue
        for t, v in zip(sub.t_us, sub.value):
            want = truth.get((key[0], key[1], int(t)))
            if not same(None if v != v else v, want):
                errs.append(f"{tier} read {key} t={int(t)}: {v} != {want}")
                break
    return errs


def check_reads(reads, truth) -> list[str]:
    """Check a round of reads against ``truth``: {tier: {(url, channel,
    t_us): value}}. The expected series are those with a row in range.
    ``tier="auto"`` resolves as the engine does: to the finest tier under
    the request cap, which for the input's span is ``second``, a tier the
    builds never write, so those reads must return no rows."""
    errs = []
    for tier, packed, url, start, end, pdf in reads:
        t = serve.select_tier(start, end) if tier == "auto" else tier
        rows = truth.get(t, {})
        series = {(u, c) for (u, c, ts) in rows if u == url and start <= ts <= end}
        errs += [
            f"{tier} packed={packed}: {e}"
            for e in check_read(pdf, t, start, end, series, rows)
        ]
    return errs


class Workload:
    #: full-size ops run before timing; identical on every commit. With
    #: one, the JIT compiler still runs during the timed ops and the
    #: backfill CPU per point spread 0.23 over five seeds (local[4]).
    warmup_ops = 2
    #: share of the timed seconds given to ops; the rest goes to read
    #: rounds (``read_round``) against the store the last op left. The
    #: reads' median needs more samples than the ops' because read times
    #: differ by kind.
    op_share = 0.6
    #: nominal seconds of one op and one read round on 4 cores; a workload
    #: whose units take longer sets its own
    unit_s = 5.0
    round_s = 2.5
    #: (tier, packed) of each read in a round
    MIX: tuple
    #: hours of input; every read's range spans them
    HOURS: int

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.ops_done = 0
        self.store = None
        self.urls: list[str] = []
        #: per measured unit: data its deferred check needs
        self.pending: list = []

    def timed_counts(self) -> tuple[int, int]:
        """Timed ops and read rounds of a run."""
        op_s = self.ctx.seconds * self.op_share
        return (
            unit_count(op_s, self.unit_s),
            unit_count(self.ctx.seconds - op_s, self.round_s),
        )

    def timed_read(self, store, tier, start_us, end_us, url, packed=False):
        """One serving read: ``get_timeseries`` plus collecting its rows."""
        tracer = self.ctx.tracer

        def read():
            df = serve.get_timeseries(
                store, tier, start_us, end_us, urls=[url], pad=True, use_packed=packed
            )
            with tracer.span("serve.collect") as s:
                pdf = df.toPandas()
                if s is not None:
                    s.result = len(pdf)
            return pdf

        with tracer.span("op.read"):
            pdf, wall, cpu = self.ctx.timed(read)
        kind = f"{tier}_packed" if packed else tier
        return pdf, Read(kind, ms=wall * 1000.0, cpu_ms=cpu * 1000.0, rows=len(pdf))

    def read_round(self, measured: bool) -> OpResult:
        """One closed-loop pass of a single client over the mix, against
        the store the last op left."""
        res = OpResult(0.0, 0.0, 0)
        reads = []
        for tier, packed in self.MIX:
            url = self.ctx.rng.choice(self.urls)
            start, end = T0, T0 + self.HOURS * HOUR - US
            pdf, r = self.timed_read(self.store, tier, start, end, url, packed)
            res.reads.append(r)
            res.wall_s += r.ms / 1000.0
            res.cpu_s += r.cpu_ms / 1000.0
            res.points += r.rows
            reads.append((tier, packed, url, start, end, pdf))
        if measured:
            self.pending.append(("reads", reads))
        return res


# ------------------------------------------------------------------ backfill


class Backfill(Workload):
    N_URLS, HOURS, N_HOT = 8, 25, 1
    #: its rounds hold two packed reads of about 0.8 s each
    round_s = 3.3
    MIX = (
        ("minute", False),
        ("hour", False),
        ("day", False),
        ("auto", False),
        ("hour", True),
        ("day", True),
    )

    def setup(self):
        self.pages = self.ctx.make_pages(self.N_URLS, self.HOURS, self.N_HOT)
        per_url = self.pages.groupBy("url").count().collect()
        self.n_pages = sum(r["count"] for r in per_url)
        self.urls = sorted(r.url for r in per_url)
        self.scan = (T0 - FIR_HALF, T0 + self.HOURS * HOUR - US)
        self.bytes_per_point = []

    def run_op(self, measured: bool) -> OpResult:
        """One bulk build into a fresh store, which then becomes the
        serving store (the previous one is removed)."""
        root = os.path.join(self.ctx.work, f"backfill-{self.ops_done}")
        store = TierStore(self.spark, root)
        self.ops_done += 1
        with self.ctx.tracer.span("op.backfill"):
            m, wall, cpu = self.ctx.timed(
                lambda: pipeline.build_tiers(
                    self.pages, store, *self.scan, pack_coarse=("hour", "day")
                )
            )
        if self.store is not None:
            shutil.rmtree(self.store.root, ignore_errors=True)
        self.store = store
        if measured:
            self.bytes_per_point.append(dir_bytes(root) / sum(m["tiers"].values()))
            self.pending.append(("build", m["tiers"]))
        return OpResult(wall, cpu, self.n_pages * len(CHANNELS))

    def oracle(self):
        """Expected rows per tier from the NumPy oracle in tests/, over
        every series of the input."""
        pdf = self.pages.select(
            "url",
            F.unix_micros("warc_ts").alias("t_us"),
            F.length("text").cast("double").alias("text_len"),
            (F.col("lang") == "en").cast("double").alias("lang_en"),
        ).toPandas()
        lo, hi = self.scan
        n = (hi - lo) // US + 1
        out = {t: {} for t in ("minute", "hour", "day")}
        for url, g in pdf.groupby("url"):
            idx = ((g.t_us.to_numpy() - lo) // US).astype(np.int64)
            for ch in CHANNELS:
                vals = g[ch].to_numpy(dtype=float)
                dense = np.full(n, np.nan)
                dense[idx] = vals
                m_t, m_v = apply_step_oracle(SEC_MIN, lo, dense)
                m_p = _present(SEC_MIN, lo, ~np.isnan(dense), m_t)
                out["minute"][(url, ch)] = (m_t[m_p], m_v[m_p])
                for tier, step in (("hour", MIN_HOUR), ("day", MIN_DAY)):
                    t, v = apply_step_oracle(step, int(m_t[0]), m_v)
                    p = _present(step, int(m_t[0]), m_p, t)
                    out[tier][(url, ch)] = (t[p], v[p])
        return out

    def verify(self) -> list[list[str]]:
        want = self.oracle()
        counts = {t: sum(len(ts) for ts, _ in s.values()) for t, s in want.items()}
        truth = {
            t: {
                (u, c, int(ts)): (None if math.isnan(v) else float(v))
                for (u, c), (tss, vs) in s.items()
                for ts, v in zip(tss, vs)
            }
            for t, s in want.items()
        }
        fails = []
        for kind, data in self.pending:
            if kind == "build":
                fails.append(
                    [
                        f"{t}: {data.get(t)} rows, oracle {counts.get(t, 0)}"
                        for t in ("minute", "hour", "day", "month")
                        if data.get(t, 0) != counts.get(t, 0)
                    ]
                )
                continue
            fails.append(check_reads(data, truth))
        return fails

    def store_bytes_per_point(self) -> float:
        return float(np.median(self.bytes_per_point))


def _present(step, start_us, present, stamps):
    """Which output stamps have at least one input row in their window
    (the engine emits a row, possibly NULL, exactly there)."""
    cs = np.concatenate([[0], np.cumsum(present)])
    anchor = stamps - step.stamp_offset_us
    i0 = np.clip((anchor + step.window_lo_offset_us - start_us) // step.in_us, 0, len(present))
    i1 = np.clip((anchor + step.window_hi_offset_us - start_us) // step.in_us + 1, 0, len(present))
    return (cs[i1] - cs[i0]) > 0


# ------------------------------------------------------------------- refresh


class Refresh(Workload):
    N_URLS, N_HOT = 8, 1
    #: a cycle takes about twice a backfill op, so a refresh run times two
    #: cycles where a backfill run times three ops, after one warm-up cycle
    #: (the prebuild already warms the build path)
    unit_s = 10.0
    warmup_ops = 1
    #: a round of four long-layout reads takes about 1.2 s; with a round
    #: time of 2.5 s its 16 reads gave a median read time that spread 0.22
    #: over ten seeds
    round_s = 1.25
    #: the cron cycle packs nothing, so the store serves the long layout only
    MIX = (("minute", False), ("hour", False), ("day", False), ("auto", False))

    def setup(self):
        """Set-up builds the store's leading hours in one ``build_tiers``;
        the cycles (warm-up and timed) refresh the hours after them, one
        hour of input each. The input is one calendar day, so the cycles
        complete it: the day row the first cycle writes while the day is
        partial must end up equal to a one-shot build's, which has the
        whole day. Every timed cycle refreshes that same day, so timed
        cycles do like work (a cycle that opens a new day is slower)."""
        cycles = self.warmup_ops + self.timed_counts()[0]
        self.HOURS = max(24, cycles + 1)
        self.first = self.HOURS - cycles  # hour of the first cycle
        self.pages = self.ctx.make_pages(self.N_URLS, self.HOURS, self.N_HOT)
        self.store = TierStore(self.spark, os.path.join(self.ctx.work, "refresh"))
        self.urls = sorted(r.url for r in self.pages.select("url").distinct().collect())
        lo, hi = T0 - FIR_HALF, T0 + self.first * HOUR - 15 * US
        pipeline.build_tiers(self._pages_in(lo, hi), self.store, lo, hi)

    def _pages_in(self, lo, hi):
        return self.pages.where(F.col("warc_ts").between(_ts(lo), _ts(hi)))

    def _slice(self, i):
        a = T0 + (self.first + i) * HOUR
        # the slice's FIR windows reach 45 s back; its last minute is the
        # one before the next slice's first, so slices tile the minute grid
        return a, a + HOUR, a - FIR_HALF, a + HOUR - 15 * US

    def run_op(self, measured: bool) -> OpResult:
        i = self.ops_done
        self.ops_done += 1
        a, _b, lo, hi = self._slice(i)
        day0 = a - a % DAY  # the calendar day of the slice's minutes

        def cycle():
            v0 = self.store.current_version("minute")
            pipeline.build_tiers(self._pages_in(lo, hi), self.store, lo, hi, upsert=True)
            pipeline.update_tiers(self.store, day0, day0 + DAY - 1)
            # update_tiers fills missing slots only: the day row an earlier
            # cycle wrote while the day was partial is present but stale.
            # sync_changed recomputes every slot whose minute input changed.
            pipeline.sync_changed(self.store, v0)

        with self.ctx.tracer.span("op.refresh"):
            _, wall, cpu = self.ctx.timed(cycle)
        res = OpResult(wall, cpu, 0)  # points filled in by verify()
        if measured:
            self.pending.append(("cycle", (i, res)))
        return res

    def verify(self) -> list[list[str]]:
        """Every tier after the last cycle must equal a one-shot build of
        the whole input; a difference fails every measured cycle. Reads
        must match the refreshed store's own rows."""
        end = self._slice(self.ops_done - 1)[3]
        ref = TierStore(self.spark, os.path.join(self.ctx.work, "refresh-oneshot"))
        pipeline.build_tiers(self._pages_in(T0 - FIR_HALF, end), ref, T0 - FIR_HALF, end)
        final_errs = []
        rows = {}
        for tier in ("minute", "hour", "day", "month"):
            got, want = tier_rows(self.store, tier), tier_rows(ref, tier)
            rows[tier] = got
            bad = sorted(k for k in set(got) | set(want) if not same(got.get(k), want.get(k)))
            if bad:
                final_errs.append(
                    f"{tier}: {len(bad)} slots differ from a one-shot build, "
                    f"e.g. {bad[0]}: {got.get(bad[0])} != {want.get(bad[0])}"
                )
        self.final_bytes_per_point = dir_bytes(self.store.root) / sum(
            map(len, rows.values())
        )
        # points per cycle = slice pages x channels, counted off the clock
        cycles = [data for kind, data in self.pending if kind == "cycle"]
        in_slice = [
            F.sum(F.col("warc_ts").between(_ts(lo), _ts(hi)).cast("long")).alias(f"s{i}")
            for i, _res in cycles
            for _a, _b, lo, hi in [self._slice(i)]
        ]
        counts = self.pages.agg(*in_slice).first() if in_slice else {}
        for i, res in cycles:
            res.points = int(counts[f"s{i}"]) * len(CHANNELS)
        return [
            list(final_errs) if kind == "cycle" else check_reads(data, rows)
            for kind, data in self.pending
        ]

    def store_bytes_per_point(self) -> float:
        return self.final_bytes_per_point


WORKLOADS = {"backfill": Backfill, "refresh": Refresh}
