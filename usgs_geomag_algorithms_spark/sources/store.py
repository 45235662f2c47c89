"""Tier table store: partitioned parquet with an Iceberg-style snapshot
manifest.

The Iceberg jars are not in this container, so the store implements the
same operational surface on plain parquet plus a tiny manifest layer:

- partition spec ``(p_date, p_bucket)`` — days(bucket_ts) × bucket(url-hash)
  — the layout the 100 TB deployment would declare as an Iceberg partition
  spec; ``p_bucket`` spreads hot domains (salting knob ``n_buckets``)
- **snapshot manifest** (``_manifests/v<N>.json`` per tier, one
  immutable file per version; the newest is the current snapshot and its
  atomic ``os.replace`` is the commit's flip): the set of LIVE data files
  at that version. Writers only ever APPEND uniquely-named files and
  then flip the manifest; replaced files
  move to a trash list and are physically deleted only after a grace of
  ``GC_GRACE_VERSIONS`` more versions — so a reader that resolved the
  manifest keeps valid file paths while any number of writes, compactions,
  or retention drops land (Iceberg's snapshot-isolation contract, scaled
  down; at 10^12 rows the same roles are played by Iceberg manifests +
  ``expire_snapshots``). Commits serialize on one kernel-held lock per
  tier (``functions/filelock.py``); a writer that dies mid-commit
  releases it with its process, so a crash never wedges the tier. A
  directory with no manifest holds no snapshot and reads as empty; the
  next commit's listing sweep removes whatever a crashed write left there.
- **exactly-once sinks**: a streaming sink passes ``txn=(sink_id,
  epoch)`` to :meth:`TierStore.write`/:meth:`TierStore.upsert`; the
  manifest's ``txns`` map records the last epoch each sink committed,
  in the same atomic flip as the data, and a replayed epoch is skipped
  under the lock (the Iceberg/Delta streaming-sink contract)
- partition overwrite = append new files + manifest flip excluding the
  touched partitions' old files (``MERGE INTO`` refresh semantics,
  idempotent)
- retention = manifest drop of expired ``p_date`` partitions (metadata-only;
  files follow via trash GC)
- upsert = read-modify-write of the touched partitions with last-wins merge
  (the reference's ``put_timeseries`` merge behavior,
  ``geomagio/TimeseriesFactory.py:249-288``)

Reads prune twice: the manifest file list is pruned driver-side on the
``p_date`` path component before Spark ever sees it, and the surviving
scan still carries the partition-column predicates (verified in tests via
the file-source plan). The Gorilla-packed sibling tiers (``<tier>_packed``)
are ordinary manifest tiers with a segment value schema (see
:meth:`TierStore.write_packed`): every tier commits through the same
snapshot path."""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.filelock import commit_lock
from ..functions.xxhash import spark_bucket
from ..tiers import US
from ..operators.merge import merge_last_wins

DATA_COLS = ("url", "channel", "t_us", "value")


class ConcurrentWriterError(RuntimeError):
    """Two writers raced a tier commit. A second manifest flip computed
    from a stale snapshot would silently drop the first writer's files,
    so the race is DETECTED: disjoint-partition commits are rebased and
    land anyway (Iceberg's optimistic commit), overlapping upserts are
    recomputed against the fresh snapshot and retried, and only an
    unresolvable race (lock-wait exhausted, retries exhausted, or a bare
    ``write`` whose overlap semantics the store can't re-derive) fails
    loudly — nothing committed is ever lost."""


class StaleSnapshotError(ConcurrentWriterError):
    """A read-modify-write planned against snapshot v_n found v_m > v_n
    at flip time WITH overlapping touched partitions — the merge result
    is stale. :meth:`TierStore.upsert` catches this and retries the
    whole merge against the fresh snapshot (bounded attempts)."""


class TimeTravelError(RuntimeError):
    """The requested snapshot version is unresolvable: it never existed,
    or it aged past ``GC_GRACE_VERSIONS`` and its files may have been
    physically collected."""


class SpecEvolutionError(RuntimeError):
    """A plain partition overwrite hit a date that still has live files
    under an older bucket spec (mid :meth:`TierStore.evolve_buckets`
    migration) — overwrite granularity follows the new spec, so the
    write cannot retire the same logical rows' old-spec files without
    dropping other keys. Use :meth:`TierStore.upsert` (provenance-safe
    merge) or :meth:`TierStore.compact` (finishes the migration)."""


def _atomic_swap_dirs(live: str, staged: str) -> None:
    """Replace directory ``live`` with ``staged`` without any window in
    which ``live`` is missing.

    Uses Linux ``renameat2(RENAME_EXCHANGE)`` (atomic swap; the staged dir
    ends up holding the old contents and is removed afterwards). Falls back
    to rename-aside (live -> live.__old__, staged -> live) on kernels/
    filesystems without RENAME_EXCHANGE — crash-safe in every interleaving
    (the data always exists under one of the two names; a crash never
    deletes anything that was not already replaced)."""
    import ctypes
    import shutil

    swapped = False
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        AT_FDCWD = -100
        RENAME_EXCHANGE = 2
        rc = libc.renameat2(
            AT_FDCWD,
            os.fsencode(staged),
            AT_FDCWD,
            os.fsencode(live),
            RENAME_EXCHANGE,
        )
        swapped = rc == 0
    except Exception:
        swapped = False
    if swapped:
        shutil.rmtree(staged)  # now holds the pre-swap contents
        return
    old = live + ".__old__"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(staged, live)
    shutil.rmtree(old)


class TierStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
        series_cols: Sequence[str] = ("url", "channel"),
        lock_wait_s: float = 0.0,
        upsert_retries: int = 3,
        value_schema: str = "value double",
        read_ref: str | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets
        self.series_cols = list(series_cols)
        #: typed value columns of this store's tiers. The default single
        #: ``value double`` is the signal store; a SKETCH tier store
        #: passes e.g. ``"sketch binary, n_events long"`` — the manifest /
        #: snapshot / upsert machinery is value-schema-agnostic, only the
        #: Gorilla-packed layout requires the double signal shape.
        self.value_schema = value_schema
        self.value_cols = [c.strip().split()[0] for c in value_schema.split(",")]
        #: how long a commit waits for another writer's lock before
        #: raising (0 = fail immediately — single-writer deployments want
        #: the loud failure; multi-writer jobs set a wait and queue)
        self.lock_wait_s = lock_wait_s
        #: bounded optimistic-commit retries for upsert on stale snapshots
        self.upsert_retries = upsert_retries
        #: write-audit-publish consumer mode: when set (e.g.
        #: ``"published"``), :meth:`read` resolves THIS named ref instead
        #: of the latest snapshot — unaudited commits stay invisible until
        #: :meth:`publish` moves the ref. A tier where the ref was never
        #: published reads as EMPTY (nothing has passed the audit yet).
        self.read_ref = read_ref
        os.makedirs(self.root, exist_ok=True)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    #: versions a replaced file stays on disk after leaving the manifest
    #: (readers planned against older snapshots keep valid paths meanwhile)
    GC_GRACE_VERSIONS = 2

    # ------------------------------------------------------------ layout
    def path(self, tier: str) -> str:
        return f"{self.root}/{tier}"

    # --------------------------------------------------------- manifest
    def _manifest_version_path(self, base: str, version: int) -> str:
        return f"{base}/_manifests/v{version}.json"

    @staticmethod
    def _listed_versions(base: str) -> list[int]:
        """Snapshot versions with a manifest file under ``base``
        (ascending); the last one is the current snapshot."""
        hist = os.path.join(base, "_manifests")
        if not os.path.isdir(hist):
            return []
        out = []
        for fn in os.listdir(hist):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    out.append(int(fn[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    # -------------------------------------------------- named refs (tags)
    def _refs_path(self, base: str) -> str:
        return f"{base}/_refs.json"

    def _load_refs(self, base: str) -> dict:
        p = self._refs_path(base)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _save_refs(self, base: str, refs: dict) -> None:
        tmp = self._refs_path(base) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f, sort_keys=True)
        os.replace(tmp, self._refs_path(base))

    def tags(self, tier: str) -> dict:
        """Named snapshot refs for a tier: ``{name: version}`` (Iceberg
        tag analog). Tagged snapshots are pinned: their manifest history
        entries and their live files survive GC until :meth:`untag`."""
        return self._load_refs(self.path(tier))

    def tag(self, tier: str, name: str, version: int | None = None) -> int:
        """Pin a snapshot under ``name`` (default: the current version).
        The tagged manifest and every file it references are protected
        from trash GC and history pruning for the tag's lifetime, so
        ``read(tier, tag=name)`` keeps resolving after any number of
        later commits (Iceberg's ``expire_snapshots`` keeps refs)."""
        base = self.path(tier)
        with self._commit_lock(base):
            if version is None:
                m = self._load_manifest(base)
                if m is None:
                    raise TimeTravelError(f"tier {tier!r} has no snapshot")
                version = m["version"]
            if not os.path.exists(
                self._manifest_version_path(base, version)
            ):
                raise TimeTravelError(
                    f"tier {tier!r} snapshot v{version} is not resolvable"
                    f" (resolvable: {self.versions(tier)})"
                )
            refs = self._load_refs(base)
            refs[name] = version
            self._save_refs(base, refs)
        return version

    def publish(
        self, tier: str, version: int | None = None, ref: str = "published"
    ) -> int:
        """Write-audit-publish flip: move the named ref to ``version``
        (default: the current snapshot). Stage with a normal
        :meth:`write`/:meth:`upsert`, audit the UNPUBLISHED snapshot
        through a latest-reading store (or ``read(as_of_version=...)``),
        then publish; consumers constructed with
        ``read_ref='published'`` never see a commit that has not passed
        the audit. A bad staged commit is reverted with
        :meth:`rollback` and simply never published. The ref is a tag,
        so the published snapshot is GC-pinned for as long as it stays
        published (a slow consumer mid-read keeps the grace window on
        top of that)."""
        return self.tag(tier, ref, version)

    def rollback(self, tier: str, to_version: int) -> int:
        """Revert the tier's current state to an earlier resolvable
        snapshot by committing a NEW version whose live file set is the
        target's (Iceberg rollback: history only moves forward). Files
        the undone commits had retired are re-activated out of trash;
        files they added are trashed. Returns the new version."""
        base = self.path(tier)
        with self._commit_lock(base):
            m = self._load_manifest(base)
            if m is None:
                raise TimeTravelError(f"tier {tier!r} has no snapshot")
            tm = self._version_manifest(tier, to_version)
            target = set(tm["files"])
            tdels = tm.get("deletes", [])
            missing = [
                f
                for f in target | {e["file"] for e in tdels}
                if not os.path.exists(os.path.join(base, f))
            ]
            if missing:
                raise TimeTravelError(
                    f"tier {tier!r} v{to_version} references "
                    f"{len(missing)} physically deleted file(s); rollback "
                    f"window is GC_GRACE_VERSIONS or a tagged snapshot"
                )
            re_added = target - set(m["files"])
            replaced = [f for f in m["files"] if f not in target]
            # restore the target's LOGICAL state: its pending equality
            # deletes come back (files re-activated out of trash by the
            # commit) and re-added data files keep their ORIGINAL
            # sequence numbers, so those masks reach exactly the rows
            # they did at the target version
            tseq = tm.get("seq", {})
            tspec = tm.get("spec", {})
            return self._commit_append(
                base,
                m,
                re_added,
                replaced,
                set_deletes=tdels,
                seq_override={f: int(tseq.get(f, 0)) for f in re_added},
                # spec list never truncates (ids stay stable); re-added
                # files take their ORIGINAL spec ids back
                spec_override={f: int(tspec.get(f, 0)) for f in re_added},
            )["version"]

    def untag(self, tier: str, name: str) -> None:
        """Drop a tag; the pinned snapshot becomes GC-eligible again once
        outside the grace window (reclaimed by the next commit's GC)."""
        base = self.path(tier)
        with self._commit_lock(base):
            refs = self._load_refs(base)
            refs.pop(name, None)
            self._save_refs(base, refs)

    def _tag_protected(self, base: str) -> tuple[set[int], set[str]]:
        """(tagged versions, union of their live files) — what GC and
        history pruning must preserve."""
        versions = set(self._load_refs(base).values())
        files: set[str] = set()
        for v in versions:
            vm = self._load_manifest(base, v)
            if vm is not None:
                files.update(vm.get("files", []))
                # a tagged snapshot's equality-delete files are part of
                # its logical state — resolving the tag must keep masking
                files.update(e["file"] for e in vm.get("deletes", []))
        return versions, files

    def _commit_lock(self, base: str):
        """Exclusive tier-commit guard held across load-manifest ->
        append-files -> manifest-flip: a kernel ``flock`` on
        ``<base>/_commit.lock`` (``functions/filelock.py``). A second
        writer polls for up to ``lock_wait_s`` (committers queue, like
        Iceberg's commit lock), then raises ``ConcurrentWriterError``
        instead of a silent last-flip-wins file loss. A holder that dies
        releases the lock with its process, so there is nothing to break
        by hand."""
        return commit_lock(base, self.lock_wait_s, ConcurrentWriterError)

    def _load_manifest(self, base: str, version: int | None = None) -> dict | None:
        """The snapshot manifest at ``version`` (default: the current one,
        the newest ``_manifests/v<N>.json``); None when it does not exist.

        A lock-free reader can race history pruning between listing the
        directory and opening the file it picked. Pruning only removes
        versions older than a newer one, so on ``FileNotFoundError`` the
        current-snapshot lookup lists again (and finds that newer version)
        rather than falling back to an older snapshot."""
        while True:
            if version is None:
                listed = self._listed_versions(base)
                if not listed:
                    return None
                v = listed[-1]
            else:
                v = version
            try:
                with open(self._manifest_version_path(base, v)) as f:
                    return json.load(f)
            except FileNotFoundError:
                if version is not None:
                    return None

    def _save_manifest(self, base: str, m: dict) -> None:
        # one immutable file per version (Iceberg metadata-file analog):
        # its atomic rename is the snapshot flip, since the newest version
        # file is the current snapshot and versions only move forward
        vp = self._manifest_version_path(base, m["version"])
        os.makedirs(os.path.dirname(vp), exist_ok=True)
        with open(vp + ".tmp", "w") as f:
            json.dump(m, f, sort_keys=True)
        os.replace(vp + ".tmp", vp)
        # prune history beyond the trash grace: those versions may
        # reference physically deleted files and must not resolve —
        # EXCEPT tagged snapshots, whose files GC also preserves
        cutoff = m["version"] - self.GC_GRACE_VERSIONS
        tagged, _ = self._tag_protected(base)
        for v in self._listed_versions(base):
            if v < cutoff and v not in tagged:
                os.remove(self._manifest_version_path(base, v))

    @staticmethod
    def _list_parquet(tier_dir: str) -> set[str]:
        out = set()
        for root, dirs, files in os.walk(tier_dir):
            rel = os.path.relpath(root, tier_dir)
            if rel == ".":
                # equality-delete files live under _deletes/ and are
                # tracked by the manifest's "deletes" list, never the data
                # file list — a write()'s before/after diff must not see
                # them as data files
                dirs[:] = [d for d in dirs if d != "_deletes"]
            for fn in files:
                if fn.endswith(".parquet"):
                    out.add(fn if rel == "." else f"{rel}/{fn}")
        return out

    def _gc_trash(self, base: str, m: dict, listing: set[str] | None = None) -> None:
        """Physically delete trashed files whose grace has expired, and —
        when a directory ``listing`` is provided — any on-disk orphan from
        a crashed write (present but neither live nor trashed)."""
        cutoff = m["version"] - self.GC_GRACE_VERSIONS
        _, pinned = self._tag_protected(base)
        kept = {}
        for f, ver in m.get("trash", {}).items():
            if ver <= cutoff and f not in pinned:
                try:
                    os.remove(os.path.join(base, f))
                except FileNotFoundError:
                    pass
            else:
                kept[f] = ver
        m["trash"] = kept
        if listing is not None:
            known = set(m["files"]) | set(kept) | pinned
            for f in listing - known:
                try:
                    os.remove(os.path.join(base, f))
                except FileNotFoundError:
                    pass
            # crash-debris sweep for the _deletes dir (not walked by
            # _list_parquet): a delete file written but never committed
            live_dels = {e["file"] for e in m.get("deletes", [])}
            ddir = os.path.join(base, "_deletes")
            if os.path.isdir(ddir):
                for fn in os.listdir(ddir):
                    rel = f"_deletes/{fn}"
                    if (
                        fn.endswith(".parquet")
                        and rel not in live_dels
                        and rel not in kept
                        and rel not in pinned
                    ):
                        try:
                            os.remove(os.path.join(ddir, fn))
                        except FileNotFoundError:
                            pass

    def _commit_append(
        self,
        base: str,
        m: dict | None,
        new_files: set[str],
        replaced: list[str],
        listing: set[str] | None = None,
        *,
        new_deletes: list[str] | None = None,
        set_deletes: list[dict] | None = None,
        seq_override: dict | None = None,
        set_specs: list[int] | None = None,
        spec_override: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Advance the manifest one version: ``new_files`` become live,
        ``replaced`` move to trash, expired trash is collected.
        ``listing`` (the post-write directory walk, when the caller
        already has it) also sweeps crashed-write orphans — no extra
        walk.

        Version CAS: the flip is only valid against the snapshot the
        mutation was computed from — if the on-disk manifest advanced in
        the meantime (a concurrent writer slipped past the lock, e.g. a
        writer on another host of a shared filesystem, where ``flock`` is
        not shared), committing would orphan that writer's files, so the
        commit aborts loudly instead.

        ``txn=(sink_id, epoch)`` records a streaming sink's epoch in the
        manifest's ``txns`` map; every commit carries the map forward,
        so "already applied" is part of the same atomic flip as the data.

        Each new file's column bounds (t_us and leading-series min/max,
        row count) are read from its parquet footer here and recorded in
        the manifest — the Iceberg data-file-metrics analog (Iceberg
        write tasks report the same bounds into manifest entries;
        ``geomagio`` has no equivalent, its fetches are URL-interval
        requests). :meth:`read` prunes the file list on these bounds
        driver-side, so a sub-day range read or a single-series fetch
        plans only the files whose bounds intersect, before Spark lists
        anything. Stats of surviving files carry forward; trashed files'
        entries drop."""
        on_disk = self._load_manifest(base)
        base_version = (m or {}).get("version", 0)
        disk_version = (on_disk or {}).get("version", 0)
        if disk_version != base_version:
            raise ConcurrentWriterError(
                f"manifest at {base} advanced v{base_version} -> "
                f"v{disk_version} under this commit; aborting the flip "
                f"(no committed file is lost — this writer's appended "
                f"files are swept as orphans by the next commit)"
            )
        m = m or {"version": 0, "files": [], "trash": {}}
        version = m["version"] + 1
        live = [f for f in m["files"] if f not in set(replaced)]
        trash = dict(m.get("trash", {}))
        trash.update({f: version for f in replaced})
        all_live = sorted(live + sorted(new_files))
        # a file committed as live must not stay in trash (rollback
        # re-activates files a later version had retired) — otherwise GC
        # would delete a live file once its trash grace expired
        for f in all_live:
            trash.pop(f, None)
        old_stats = m.get("stats", {})
        stats = {f: old_stats[f] for f in live if f in old_stats}
        stats.update(self._collect_file_stats(base, new_files))
        # per-file sequence numbers (Iceberg data-sequence-number analog):
        # the commit version a file became live at — an equality delete
        # masks only rows in files with a LOWER sequence, so a partition
        # rewritten after the delete (upsert/compaction, which already
        # read through the mask) is never double-masked, and a key
        # re-inserted after its delete survives
        old_seq = m.get("seq", {})
        seq = {f: int(old_seq.get(f, 0)) for f in live}
        seq.update({f: version for f in new_files})
        if seq_override:
            seq.update({f: int(v) for f, v in seq_override.items() if f in seq})
        deletes = list(m.get("deletes", []))
        if set_deletes is not None:
            dropped = {e["file"] for e in deletes} - {
                e["file"] for e in set_deletes
            }
            trash.update({f: version for f in dropped})
            deletes = [dict(e) for e in set_deletes]
        if new_deletes:
            deletes.extend(
                {"file": f, "version": version} for f in new_deletes
            )
        # a delete file re-activated by rollback must leave trash, or GC
        # would unlink it while the manifest still applies it
        for e in deletes:
            trash.pop(e["file"], None)
        # partition-spec history (Iceberg partition-spec evolution): the
        # list of n_buckets values this tier has been bucketed with; each
        # file records WHICH spec laid it out ("spec" map, index into the
        # list) so key-pruned reads hash under the right modulus per
        # file. Spec ids only ever append — a rollback keeps the list and
        # restores the re-added files' original ids
        specs = list(
            set_specs
            if set_specs is not None
            else (m.get("specs") or [self.n_buckets])
        )
        cur_spec = len(specs) - 1
        old_spec = m.get("spec", {})
        spec = {f: int(old_spec.get(f, 0)) for f in live}
        spec.update({f: cur_spec for f in new_files})
        if spec_override:
            spec.update(
                {f: int(v) for f, v in spec_override.items() if f in spec}
            )
        txns = dict(m.get("txns", {}))
        if txn is not None:
            txns[txn[0]] = int(txn[1])
        out = {
            "version": version,
            "files": all_live,
            "trash": trash,
            "stats": stats,
            "seq": seq,
            "deletes": deletes,
            "specs": specs,
            "spec": spec,
        }
        if txns:  # only sink-written tiers carry the map
            out["txns"] = txns
        self._gc_trash(base, out, listing)
        self._save_manifest(base, out)
        return out

    def _collect_file_stats(self, base: str, relpaths) -> dict:
        """Per-file column bounds from the parquet footers, recorded at
        commit time: ``{relpath: [t_min, t_max, s_min, s_max, rows]}``.

        Bounds come straight from parquet row-group statistics, so they
        are valid even when the writer truncated long string min/max
        (parquet truncation keeps ``min' <= min`` and ``max' >= max`` —
        pruning on them can only be conservative). Files whose footers
        lack usable stats simply get no entry and are never pruned.
        Cost is one footer read per file WRITTEN IN THIS COMMIT (Iceberg
        pays the same: write tasks report data-file metrics into the
        manifest), never a rescan of the tier."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return {}
        key_col = self.series_cols[0]
        out: dict[str, list] = {}
        for rel in relpaths:
            try:
                md = pq.ParquetFile(os.path.join(base, rel)).metadata
            except Exception:
                continue
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            t_min = t_max = s_min = s_max = None
            for name, setter in (("t_us", "t"), (key_col, "s")):
                i = idx.get(name)
                if i is None:
                    continue
                lo = hi = None
                ok = True
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(i).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        try:
                            mn = mn.decode("utf-8")
                            mx = mx.decode("utf-8")
                        except UnicodeDecodeError:
                            ok = False
                            break
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
                if ok and lo is not None:
                    if setter == "t":
                        t_min, t_max = int(lo), int(hi)
                    else:
                        s_min, s_max = lo, hi
            out[rel] = [t_min, t_max, s_min, s_max, md.num_rows]
        return out

    def _partitioned(self, df: DataFrame, n_buckets: int | None = None) -> DataFrame:
        # a "_pb" provenance column (upsert across a bucket-spec
        # evolution) pins each row to the physical partition it already
        # lives in — rows never migrate outside the dirs the merge read,
        # which is what makes dynamic-overwrite retirement safe there
        bucket = (
            F.col("_pb").cast("int")
            if "_pb" in df.columns
            else F.pmod(
                F.xxhash64(F.col(self.series_cols[0])),
                F.lit(int(n_buckets or self.n_buckets)),
            ).cast("int")
        )
        out = df.withColumn(
            "p_date", F.date_format(F.timestamp_micros(F.col("t_us")), "yyyy-MM-dd")
        ).withColumn("p_bucket", bucket)
        return out.drop("_pb") if "_pb" in df.columns else out

    def _tier_specs(self, m: dict | None) -> list[int]:
        """The tier's partition-spec history (bucket-count per spec id);
        pre-evolution manifests mean one spec — the store default."""
        if m is None:
            return [self.n_buckets]
        return [int(s) for s in (m.get("specs") or [self.n_buckets])]

    def _buckets_by_spec(
        self, m: dict | None, keys: Sequence[str]
    ) -> dict[int, set[int]]:
        """For each spec id the tier has files under, the p_bucket values
        the given keys hash to — so key-pruned reads stay correct across
        a bucket-count evolution (each file is tested under ITS spec)."""
        specs = self._tier_specs(m)
        return {
            i: self._buckets_of(keys, n_buckets=n)
            for i, n in enumerate(specs)
        }

    @staticmethod
    def _changed_dirs(old_m: dict | None, new_m: dict | None) -> set[str]:
        """Partition dirs whose LIVE file set differs between snapshots —
        the partitions intervening commits actually modified."""

        def by_dir(m):
            d: dict[str, set] = {}
            for f in (m or {}).get("files", []):
                d.setdefault(os.path.dirname(f), set()).add(f)
            return d

        a, b = by_dir(old_m), by_dir(new_m)
        return {k for k in set(a) | set(b) if a.get(k) != b.get(k)}

    # ------------------------------------------------------------- write
    def write(
        self,
        df: DataFrame,
        tier: str,
        _based_on: dict | None = None,
        _replace_dirs: set[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Partition overwrite through the snapshot manifest: new files are
        APPENDED (never clobbering live ones), then one atomic manifest
        flip makes them current and retires the touched (p_date, p_bucket)
        partitions' old files to trash. Readers planned against the prior
        snapshot keep valid paths for ``GC_GRACE_VERSIONS`` more writes.

        The whole load→append→flip runs under the tier commit lock.
        ``_based_on`` (used by :meth:`upsert`) pins the snapshot the
        caller's read-modify-write was BASED on; if other commits landed
        since, the commit is validated Iceberg-style at PARTITION
        granularity: when the intervening changes are disjoint from the
        partitions this write touches, the commit rebases onto the
        current snapshot and lands anyway; on overlap it raises
        :class:`StaleSnapshotError` (the merge result is stale — the
        appended files are swept as orphans by the next commit) and
        :meth:`upsert` recomputes and retries.

        ``txn=(sink_id, epoch)`` makes the write exactly-once per sink
        epoch: when the manifest already records ``epoch`` (or a later
        one) for ``sink_id``, nothing is written; otherwise the flip
        records it (see :meth:`txn_epoch`)."""
        base = self.path(tier)
        os.makedirs(base, exist_ok=True)
        with self._commit_lock(base):
            m = self._load_manifest(base)
            if txn is not None and self._txn_of(m, txn[0]) >= txn[1]:
                return
            conflict_dirs: set[str] = set()
            if _based_on is not None:
                current = (m or {}).get("version", 0)
                based = (_based_on or {}).get("version", 0)
                if current != based:
                    # rebase onto the current snapshot; overlap with the
                    # dirs we actually touch is checked after the append
                    conflict_dirs = self._changed_dirs(_based_on, m)
            before = self._list_parquet(base)
            mixed = "_pb" in df.columns
            if m is not None and not mixed:
                # dynamic overwrite is ill-defined across a partition-spec
                # evolution: a row's partition identity changed, so
                # overwriting the NEW spec's dir cannot retire the same
                # logical rows in an OLD spec's dir (and retiring the old
                # dir wholesale would drop innocent keys that share the old
                # bucket). Iceberg has the same footgun; this store refuses
                # loudly instead of returning duplicates. Upsert reads
                # through both layouts and merges provenance-safely
                # (``_pb``); ``compact`` migrates the tier to the pure new
                # layout, after which plain writes are safe again. Only
                # dates that actually have live old-spec files are
                # ambiguous — appends of fresh dates pass.
                cur_spec = len(self._tier_specs(m)) - 1
                spec_of = m.get("spec", {})
                old_dates = {
                    self._pdate_of(f)
                    for f in m.get("files", [])
                    if int(spec_of.get(f, 0)) != cur_spec
                }
                old_dates.discard(None)
                if old_dates:
                    write_dates = {
                        r.p_date
                        for r in df.select(
                            F.date_format(
                                F.timestamp_micros(F.col("t_us")),
                                "yyyy-MM-dd",
                            ).alias("p_date")
                        )
                        .distinct()
                        .collect()
                    }
                    clash = sorted(old_dates & write_dates)
                    if clash:
                        raise SpecEvolutionError(
                            f"tier {tier!r} has live files under an older "
                            f"bucket spec for date(s) {clash[:3]}… — a "
                            f"partition overwrite there is ambiguous "
                            f"(it cannot retire the same keys' old-spec "
                            f"rows without dropping other keys). Use "
                            f"upsert() (provenance merge) or compact() "
                            f"to migrate the layout first."
                        )
            (
                self._partitioned(df, n_buckets=self._tier_specs(m)[-1])
                .write.mode("append")
                .partitionBy("p_date", "p_bucket")
                .parquet(base)
            )
            after = self._list_parquet(base)
            new_files = after - before
            touched = {os.path.dirname(f) for f in new_files}
            if _replace_dirs:
                # the caller's read-modify-write read these dirs WHOLLY
                # and its output contains all their surviving rows, so
                # they retire even where no new file landed (a merged row
                # that moved dirs, or a dir the merge emptied)
                touched |= set(_replace_dirs)
            overlap = conflict_dirs & touched
            if overlap:
                raise StaleSnapshotError(
                    f"tier {tier!r} advanced past the snapshot this "
                    f"read-modify-write was based on, and the intervening "
                    f"commits modified {len(overlap)} of the partitions it "
                    f"touches ({sorted(overlap)[:3]}…); the merge is stale "
                    f"— recompute against the current snapshot and retry"
                )
            replaced = (
                [f for f in m["files"] if os.path.dirname(f) in touched]
                if m
                else []
            )
            # the post-write listing doubles as the orphan sweep — a write
            # is exactly two directory walks (the pre-write set
            # distinguishes crash debris from this write's files; Iceberg
            # pays the same role's cost in manifest IO). Provenance-kept
            # writes can mix bucket layouts inside one file -> spec -1
            # (key pruning tests the union of all specs for those)
            self._commit_append(
                base,
                m,
                new_files,
                replaced,
                listing=after,
                spec_override=(
                    {f: -1 for f in new_files} if mixed else None
                ),
                txn=txn,
            )

    def upsert(
        self,
        df: DataFrame,
        tier: str,
        clobber: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Read-modify-write merge into existing partitions (last-wins, new
        data preferred, gaps never clobber values) — the MERGE INTO analog.

        The old-side scan is pruned to the TOUCHED partitions before Spark
        sees a single file: the touched (p_date, p_bucket) keys are
        collected (bounded: dates x buckets) and the manifest's file list
        is filtered to those directories driver-side — a one-day upsert
        into a years-deep tier reads one day, not the tier (the scan-scope
        property Iceberg's MERGE INTO gets from its manifests). ``txn`` is
        passed to :meth:`write` (exactly-once sink epochs)."""
        if not self.exists(tier):
            self.write(df, tier, txn=txn)
            return
        # optimistic commit (Iceberg MERGE INTO semantics): pin the
        # snapshot the merge reads from; if another writer lands a commit
        # before our flip, write() validates at partition granularity —
        # disjoint commits rebase and land, overlapping ones raise
        # StaleSnapshotError and the WHOLE merge recomputes against the
        # fresh snapshot (bounded retries). Nothing committed is ever
        # clobbered by a stale merge.
        key_col = self.series_cols[0]
        nan_aware = self.value_schema.split(",")[0].split()[-1] == "double"
        last: StaleSnapshotError | None = None
        for _ in range(max(1, self.upsert_retries)):
            read_manifest = self._load_manifest(self.path(tier)) or {
                "version": 0,
                "files": [],
                "trash": {},
            }
            specs = self._tier_specs(read_manifest)
            # keys collected, not joined: the key list is what prunes the
            # scan. Across a bucket-spec evolution the same url may live
            # under any spec's modulus, so the touched set is the union
            # over specs (bounded: dates x buckets x specs)
            bcols = [
                F.pmod(F.xxhash64(F.col(key_col)), F.lit(int(n)))
                .cast("int")
                .alias(f"_b{i}")
                for i, n in enumerate(specs)
            ]
            tuples = (
                df.select(
                    F.date_format(
                        F.timestamp_micros(F.col("t_us")), "yyyy-MM-dd"
                    ).alias("p_date"),
                    *bcols,
                )
                .distinct()
                .collect()
            )
            keys = {
                (r.p_date, r[f"_b{i}"])
                for r in tuples
                for i in range(len(specs))
            }
            if not keys:
                return
            multi = len(specs) > 1
            old_touched = self._read_partitions(
                tier, keys, with_bucket=multi
            )
            new_side = df.select(
                *self.series_cols, "t_us", *self.value_cols
            )
            if multi:
                # provenance merge: surviving old rows keep their physical
                # bucket, new/winning rows take the current spec's — no
                # row leaves the dirs this merge read, so retiring exactly
                # those dirs (write _replace_dirs) loses nothing
                new_side = new_side.withColumn(
                    "_pb",
                    F.pmod(
                        F.xxhash64(F.col(key_col)), F.lit(int(specs[-1]))
                    ).cast("int"),
                )
            merged = merge_last_wins(
                old_touched,
                new_side,
                series_cols=self.series_cols,
                value_col=self.value_cols[0],
                extra_cols=[*self.value_cols[1:], *(["_pb"] if multi else [])],
                nan_aware=nan_aware,
                clobber=clobber,
            )
            try:
                self.write(
                    merged,
                    tier,
                    _based_on=read_manifest,
                    _replace_dirs=(
                        {f"p_date={d}/p_bucket={b}" for d, b in keys}
                        if multi
                        else None
                    ),
                    txn=txn,
                )
                return
            except StaleSnapshotError as e:
                last = e
        raise last

    #: above this many deletion keys the anti-filter ships as a broadcast
    #: join instead of a literal isin (plan size stays O(1) in key count)
    MAX_LITERAL_DELETE_KEYS = 64

    def delete_series(
        self, tier: str, keys: Sequence[str], hard: bool = False
    ) -> dict:
        """Targeted deletion of whole series (GDPR / right-to-be-forgotten
        across a tier): every row whose leading series key is in ``keys``
        is removed, in one snapshot commit.

        Scan scope is the VICTIM BUCKETS only — the leading series column
        determines ``p_bucket``, so a delete reads ``|buckets(keys)| /
        n_buckets`` of the tier, never all of it (the same manifest-
        pruning property upsert has), across all dates.  Partitions left
        EMPTY by the delete are retired correctly: the commit replaces
        every live file of the victim buckets, not just the directories
        the rewrite produced files for (the plain ``write()`` overwrite
        cannot express "this partition now has zero rows").

        ``hard=False`` (default) is a normal snapshot commit — replaced
        files go to trash and time travel within ``GC_GRACE_VERSIONS``
        still resolves the deleted rows (auditable).  ``hard=True`` adds
        a second flip that physically unlinks the replaced files NOW,
        together with every victim-bucket file an earlier commit had
        already moved to trash (an overwrite or a soft erase inside the
        grace still holds the victims' rows there) — the compliance
        erasure; snapshots that referenced them stop resolving, by
        design. Trashed files that a tag pins stay until :meth:`untag`.

        Returns ``{"buckets", "files_replaced", "rows_deleted"}``.
        """
        keys = list(dict.fromkeys(keys))
        zero = {"buckets": 0, "files_replaced": 0, "rows_deleted": 0}
        if not keys or not self.exists(tier):
            return zero
        key_col = self.series_cols[0]
        keys_df = self.spark.createDataFrame(
            [(k,) for k in keys], f"{key_col} string"
        )
        base = self.path(tier)
        with self._commit_lock(base):
            m = self._load_manifest(base)
            if m is None:
                return zero
            before = self._list_parquet(base)
            # victim dirs under EVERY spec the tier has been bucketed
            # with — after an evolution the keys' history spans both
            # layouts (mixed upsert files share those dir names too)
            buckets = set().union(
                *self._buckets_by_spec(m, keys).values()
            )
            dirs = {f"p_bucket={b}" for b in buckets}

            def in_victim_bucket(f: str) -> bool:
                return any(part in dirs for part in f.split("/"))

            victims = [f for f in m["files"] if in_victim_bucket(f)]
            # a hard erase also reaches the victims' rows in files an
            # EARLIER commit retired (an overwrite or a soft erase inside
            # the grace): every victim-bucket file in trash that no tag pins
            trashed = []
            if hard:
                _, pinned = self._tag_protected(base)
                trashed = [
                    f
                    for f in m.get("trash", {})
                    if f not in pinned and in_victim_bucket(f)
                ]
            if not victims and not trashed:
                return dict(zero, buckets=len(buckets))
            m2, n_victim_rows, n_remaining = m, 0, 0
            if victims:
                # masked read: a pending equality delete on a victim
                # bucket must not be resurrected by this rewrite (the
                # rewritten files get a new sequence number, ending the
                # mask's reach)
                scan = self._read_live(base, m, victims).select(
                    *self.series_cols, "t_us", *self.value_cols
                )
                if len(keys) <= self.MAX_LITERAL_DELETE_KEYS:
                    remaining = scan.where(~F.col(key_col).isin(keys))
                else:
                    remaining = scan.join(
                        F.broadcast(keys_df), on=key_col, how="left_anti"
                    )
                n_victim_rows = scan.count()
                (
                    self._partitioned(
                        remaining, n_buckets=self._tier_specs(m)[-1]
                    )
                    .write.mode("append")
                    .partitionBy("p_date", "p_bucket")
                    .parquet(base)
                )
                after = self._list_parquet(base)
                m2 = self._commit_append(
                    base, m, after - before, victims, listing=after
                )
                n_remaining = (
                    self.spark.read.option("basePath", base)
                    .parquet(*[f"{base}/{f}" for f in after - before])
                    .count()
                    if after - before
                    else 0
                )
            if hard:
                gone = set(victims) | set(trashed)
                for f in gone:
                    try:
                        os.remove(os.path.join(base, f))
                    except FileNotFoundError:
                        pass
                self._save_manifest(
                    base,
                    dict(
                        m2,
                        version=m2["version"] + 1,
                        trash={
                            f: v
                            for f, v in m2["trash"].items()
                            if f not in gone
                        },
                    ),
                )
        return {
            "buckets": len(buckets),
            "files_replaced": len(victims),
            "rows_deleted": n_victim_rows - n_remaining,
        }

    # ------------------------------------------- merge-on-read deletes
    def delete_rows(self, df: DataFrame, tier: str) -> dict:
        """Merge-on-read row-level delete (Iceberg v2 equality-delete
        files): the delete keys — one row per ``(series..., t_us)`` — are
        written as a SMALL delete file under ``_deletes/`` and recorded
        in the manifest; no data file is rewritten. Readers mask matching
        rows in files whose sequence number predates the delete (one
        broadcast anti-join), so at 100 TB a GDPR erasure of rows
        scattered across a million files costs one tiny commit instead of
        a table rewrite (``delete_series`` is the copy-on-write
        alternative for whole-series erasure — it rewrites, but bounds
        the rewrite to the victim buckets).

        The mask composes with every other commit type: an upsert or
        compaction rewrites partitions THROUGH the mask (materializing
        it for those files), a key re-inserted after the delete has a
        newer file sequence and survives, time travel to a pre-delete
        snapshot still sees the rows, and :meth:`changelog` spanning the
        delete commit emits the masked rows as ``op='delete'``.
        :meth:`materialize_deletes` (or a full :meth:`compact`) retires
        the delete files once applied. Refused on packed tiers: they
        commit through the manifest too, but hold one row per SEGMENT, so
        a point key would mask nothing — erase whole series there with
        ``packed_view().delete_series`` or rewrite with
        :meth:`write_packed`.

        Returns ``{"keys", "version"}`` (0 keys commits nothing)."""
        import shutil
        import uuid

        if tier.endswith("_packed"):
            raise ValueError(
                "delete_rows() masks point keys of long-layout tiers; "
                "packed tiers hold segments (use packed_view()"
                ".delete_series or write_packed)"
            )
        if not self.exists(tier):
            return {"keys": 0, "version": 0}
        zero = {"keys": 0, "version": 0}
        key_cols = [*self.series_cols, "t_us"]
        kd = df.select(*key_cols).distinct()
        base = self.path(tier)
        ddir = os.path.join(base, "_deletes")
        os.makedirs(ddir, exist_ok=True)
        with self._commit_lock(base):
            m = self._load_manifest(base)
            if m is None:
                return zero
            tmp = os.path.join(ddir, f".tmp-{uuid.uuid4().hex}")
            kd.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
            name = f"eqdel-{uuid.uuid4().hex[:12]}.parquet"
            os.replace(os.path.join(tmp, part[0]), os.path.join(ddir, name))
            shutil.rmtree(tmp)
            # footer-metadata count (no data scan) — also the 0-key gate
            n = self.spark.read.parquet(f"{base}/_deletes/{name}").count()
            if n == 0:
                os.remove(os.path.join(ddir, name))
                return dict(zero, version=m.get("version", 0))
            m2 = self._commit_append(
                base, m, set(), [], new_deletes=[f"_deletes/{name}"]
            )
        return {"keys": n, "version": m2["version"]}

    def evolve_buckets(self, tier: str, n_buckets: int) -> int:
        """Partition-spec evolution (Iceberg ``ALTER TABLE .. ADD
        PARTITION FIELD bucket(N, url)`` analog): change the tier's
        url-hash bucket count in ONE metadata-only commit — no data file
        is touched. At 100 TB re-bucketing a skewing tier by rewrite is a
        full-table job; here new writes use the new modulus immediately
        while existing files keep their original spec id recorded per
        file, so key-pruned reads hash each file under the modulus that
        laid it out. Upserts spanning the boundary merge
        provenance-safely (surviving rows keep their physical dirs), and
        a later :meth:`compact` migrates the whole tier to the pure new
        layout. Spec ids only append — time travel and rollback stay
        consistent. Returns the commit version."""
        if int(n_buckets) < 1:
            raise ValueError("n_buckets must be >= 1")
        base = self.path(tier)
        if not self.exists(tier):
            raise TimeTravelError(f"no such tier {tier!r}")
        with self._commit_lock(base):
            m = self._load_manifest(base)
            if m is None:
                raise TimeTravelError(f"tier {tier!r} has no snapshot")
            specs = self._tier_specs(m)
            if specs[-1] == int(n_buckets):
                return m.get("version", 0)
            return self._commit_append(
                base, m, set(), [], set_specs=[*specs, int(n_buckets)]
            )["version"]

    def pending_deletes(self, tier: str) -> list[dict]:
        """The current snapshot's unapplied equality-delete entries
        (``{"file", "version"}``), oldest first."""
        m = self._load_manifest(self.path(tier)) if self.exists(tier) else None
        if m is None:
            return []
        return sorted(m.get("deletes", []), key=lambda e: e["version"])

    def materialize_deletes(self, tier: str) -> dict:
        """Apply pending equality deletes to the data files they can
        reach and retire the delete files (Iceberg
        ``rewrite_position_delete_files`` + targeted
        ``rewrite_data_files``). Surgical: a file is rewritten only if
        some delete entry's version exceeds its sequence number AND the
        entry's key buckets / time bounds overlap the file's manifest
        stats — everything else stays live untouched. Reader-safe like
        every commit (append + manifest flip; old files linger through
        trash grace)."""
        base = self.path(tier)
        out = {"files_rewritten": 0, "delete_files_dropped": 0}
        if not os.path.exists(base):
            return out
        with self._commit_lock(base):
            m = self._load_manifest(base)
            if m is None or not m.get("deletes"):
                return out
            seq = m.get("seq", {})
            stats = m.get("stats", {})
            # per-entry reach: buckets of the entry's series keys and its
            # t_us envelope (the key sets are bounded by what was deleted
            # — collected driver-side like the other maintenance ops)
            spec_map = m.get("spec", {})
            reach = []
            for e in m["deletes"]:
                kdf = self.spark.read.parquet(f"{base}/{e['file']}")
                keys = [
                    r[0]
                    for r in kdf.select(self.series_cols[0])
                    .distinct()
                    .collect()
                ]
                t = kdf.agg(
                    F.min("t_us").alias("lo"), F.max("t_us").alias("hi")
                ).first()
                reach.append(
                    (
                        int(e["version"]),
                        self._buckets_by_spec(m, keys),
                        t.lo,
                        t.hi,
                    )
                )

            def _affected(f: str) -> bool:
                s = int(seq.get(f, 0))
                pb = self._pbucket_of(f)
                st = stats.get(f)
                sid = int(spec_map.get(f, 0))
                for dv, by_spec, lo, hi in reach:
                    if dv <= s:
                        continue
                    if sid < 0 or sid not in by_spec:
                        buckets = set().union(*by_spec.values())
                    else:
                        buckets = by_spec[sid]
                    if pb is not None and pb not in buckets:
                        continue
                    if st and st[0] is not None and hi is not None:
                        if st[0] > hi or (st[1] is not None and st[1] < lo):
                            continue
                    return True
                return False

            affected = [f for f in m["files"] if _affected(f)]
            pre = self._list_parquet(base)
            if affected:
                (
                    self._read_live(base, m, affected)
                    .write.mode("append")
                    .partitionBy("p_date", "p_bucket")
                    .parquet(base)
                )
            after = self._list_parquet(base)
            self._commit_append(
                base,
                m,
                after - pre,
                affected,
                listing=after,
                set_deletes=[],
                # the rewrite preserves each row's physical partition
                # (the reader carries p_date/p_bucket through), so output
                # files can mix bucket layouts -> spec -1
                spec_override={f: -1 for f in after - pre},
            )
            out = {
                "files_rewritten": len(affected),
                "delete_files_dropped": len(m["deletes"]),
            }
        return out

    def _read_partitions(
        self, tier: str, keys: set, with_bucket: bool = False
    ) -> DataFrame:
        """Read exactly the given (p_date, p_bucket) partitions of a tier
        (manifest file-list pruning). ``with_bucket`` keeps each row's
        physical p_bucket as ``_pb`` — upsert provenance across a
        partition-spec evolution."""
        base = self.path(tier)
        dirs = {f"p_date={d}/p_bucket={b}" for d, b in keys}
        m = self._load_manifest(base)
        files = [
            f for f in (m or {}).get("files", []) if os.path.dirname(f) in dirs
        ]
        # deletes applied HERE so upsert's read-modify-write rewrites the
        # partition without the masked rows — the rewrite (new sequence
        # number) materializes the delete instead of resurrecting it
        df = self._read_live(base, m, files) if files else self._empty()
        cols = [*self.series_cols, "t_us", *self.value_cols]
        if with_bucket:
            pb = (
                F.col("p_bucket")
                if "p_bucket" in df.columns
                else F.lit(None)
            )
            return df.select(*cols, pb.cast("int").alias("_pb"))
        return df.select(*cols)

    # -------------------------------------------------------------- read
    def exists(self, tier: str) -> bool:
        return os.path.exists(self.path(tier))

    def _schema(self) -> str:
        cols = ", ".join(f"{c} string" for c in self.series_cols)
        return f"{cols}, t_us long, {self.value_schema}"

    def _empty(self) -> DataFrame:
        # an empty RDD has no partitions, so collecting the frame runs no
        # task; a local list would start a Python worker to read nothing
        return self.spark.createDataFrame(
            self.spark.sparkContext.emptyRDD(), schema=self._schema()
        )

    def _reader(self, base: str):
        """Parquet reader pinned to the tier's DECLARED schema (Iceberg
        add-column evolution): files written before a value column was
        added surface that column as NULL — no ``mergeSchema`` footer
        sweep, the scan plans O(files read), not O(files in tier).
        Columns present in old files but since dropped from
        ``value_schema`` are simply not read. Type changes of an
        existing column are NOT supported (as in Iceberg, only widening
        via new columns). Partition columns are declared so their types
        are stable regardless of discovery order."""
        return self.spark.read.option("basePath", base).schema(
            f"{self._schema()}, p_date string, p_bucket int"
        )

    def _read_live(self, base: str, m: dict, files: list[str]) -> DataFrame:
        """Scan the given live data files of snapshot ``m`` with the
        snapshot's pending equality deletes applied (Iceberg v2
        merge-on-read): rows matching a delete key are masked iff the
        delete's commit version exceeds the file's sequence number, so a
        partition rewritten after the delete (which already read through
        the mask) is not double-masked and a re-inserted key survives.

        Files whose sequence is >= every delete version pass through
        untouched; only the remainder pays a broadcast anti-join against
        the (small, bounded-by-deleted-keys) delete relation — at 100 TB
        a scattered GDPR delete costs one tiny broadcast, not a table
        rewrite. With no pending deletes this is exactly the plain scan."""
        reader = self._reader(base)
        dels = m.get("deletes") or []
        if not dels:
            return reader.parquet(*[f"{base}/{f}" for f in files])
        seq = m.get("seq", {})
        max_dv = max(int(e["version"]) for e in dels)
        dirty = [f for f in files if int(seq.get(f, 0)) < max_dv]
        clean = [f for f in files if int(seq.get(f, 0)) >= max_dv]
        parts = []
        if clean:
            parts.append(reader.parquet(*[f"{base}/{f}" for f in clean]))
        if dirty:
            d = reader.parquet(*[f"{base}/{f}" for f in dirty])
            # per-row file sequence via the parquet metadata column; the
            # (relpath -> seq) map is a tiny broadcast, never a shuffle
            d = d.withColumn(
                "_rel",
                F.substring_index(
                    F.col("_metadata.file_path"),
                    base.rstrip("/") + "/",
                    -1,
                ),
            )
            seqdf = self.spark.createDataFrame(
                [(f, int(seq.get(f, 0))) for f in dirty],
                "_rel string, _seq int",
            )
            d = d.join(F.broadcast(seqdf), "_rel")
            keys = [*self.series_cols, "t_us"]
            kd = None
            for e in dels:
                one = (
                    self.spark.read.parquet(f"{base}/{e['file']}")
                    .select(*keys)
                    .withColumn("_dv", F.lit(int(e["version"])))
                )
                kd = one if kd is None else kd.unionByName(one)
            cond = F.lit(True)
            for k in keys:
                cond = cond & (d[k] == kd[k])
            cond = cond & (kd["_dv"] > d["_seq"])
            d = d.join(F.broadcast(kd), cond, "left_anti").drop(
                "_rel", "_seq"
            )
            parts.append(d)
        if not parts:
            return self._empty()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _pdate_of(relpath: str):
        for part in relpath.split("/"):
            if part.startswith("p_date="):
                return part.split("=", 1)[1]
        return None

    @staticmethod
    def _pbucket_of(relpath: str):
        for part in relpath.split("/"):
            if part.startswith("p_bucket="):
                try:
                    return int(part.split("=", 1)[1])
                except ValueError:
                    return None
        return None

    def _buckets_of(
        self, keys: Sequence[str], n_buckets: int | None = None
    ) -> set[int]:
        """``p_bucket`` values the given series keys hash to — the write
        path's ``pmod(xxhash64(key), n)``, recomputed on the driver by
        ``functions/xxhash.py`` (bit-identical to Spark's, no Spark job),
        so pruning a read to a few keys costs microseconds at plan time."""
        n = int(n_buckets or self.n_buckets)
        return {spark_bucket(k, n) for k in keys}

    def versions(self, tier: str) -> list[int]:
        """Resolvable snapshot versions (ascending) — the time-travel
        window: current and up to ``GC_GRACE_VERSIONS`` predecessors."""
        return self._listed_versions(self.path(tier))

    @staticmethod
    def _day(t_us: int) -> str:
        """The ``p_date`` partition value of timestamp ``t_us``."""
        return time.strftime("%Y-%m-%d", time.gmtime(int(t_us) // US))

    @staticmethod
    def _series_keys(series: str | Sequence[str] | None) -> list[str] | None:
        if series is None:
            return None
        return [series] if isinstance(series, str) else sorted(set(series))

    def _pruner(
        self,
        m: dict,
        start_us: int | None,
        end_us: int | None,
        keys: list[str] | None,
    ):
        """Driver-side file pruning of snapshot ``m`` for a read of
        ``[start_us, end_us]`` over series ``keys``. Returns ``why(f)``:
        None when live file ``f`` must be scanned, else the test that
        prunes it — ``"date"`` (its ``p_date`` path component),
        ``"bucket"`` (the keys' ``p_bucket`` under the spec that laid the
        file out) or ``"bounds"`` (the t_us / series bounds the commit
        recorded from its parquet footer). :meth:`read` scans the files
        it keeps; :meth:`explain_read` counts the reasons."""
        lo = int(start_us) if start_us is not None else None
        hi = int(end_us) if end_us is not None else None
        d0 = self._day(lo) if lo is not None else None
        d1 = self._day(hi) if hi is not None else None
        by_spec = self._buckets_by_spec(m, keys) if keys is not None else None
        any_spec = set().union(*by_spec.values()) if by_spec else set()
        stats = m.get("stats", {})
        spec_map = m.get("spec", {})

        def why(f: str) -> str | None:
            pd = self._pdate_of(f)
            if pd is not None and (
                (d0 is not None and pd < d0) or (d1 is not None and pd > d1)
            ):
                return "date"
            if by_spec is not None:
                # across an evolution old files keep pruning under their
                # original modulus; spec -1 (mixed provenance upsert
                # file) tests the union of every spec's buckets
                sid = int(spec_map.get(f, 0))
                buckets = by_spec.get(sid, any_spec) if sid >= 0 else any_spec
                pb = self._pbucket_of(f)
                if pb is not None and pb not in buckets:
                    return "bucket"
            st = stats.get(f)
            if st:
                t_min, t_max, s_min, s_max = st[0], st[1], st[2], st[3]
                if (
                    (lo is not None and t_max is not None and t_max < lo)
                    or (hi is not None and t_min is not None and t_min > hi)
                    or (
                        keys is not None
                        and s_min is not None
                        and not any(s_min <= k <= s_max for k in keys)
                    )
                ):
                    return "bounds"
            return None

        return why

    def _scan(
        self,
        base: str,
        m: dict | None,
        start_us: int | None,
        end_us: int | None,
        keys: list[str] | None,
    ) -> DataFrame:
        """Scan snapshot ``m``'s live files that survive :meth:`_pruner`
        (pruned driver-side before Spark lists anything), with the range
        and key predicates also pushed into the parquet scan."""
        if m is None or (keys is not None and not keys):
            return self._empty()
        why = self._pruner(m, start_us, end_us, keys)
        files = [f for f in m["files"] if why(f) is None]
        if not files:
            return self._empty()
        df = self._read_live(base, m, files)
        if start_us is not None:
            df = df.where(F.col("p_date") >= self._day(start_us)).where(
                F.col("t_us") >= int(start_us)
            )
        if end_us is not None:
            df = df.where(F.col("p_date") <= self._day(end_us)).where(
                F.col("t_us") <= int(end_us)
            )
        if keys is not None:
            key_col = self.series_cols[0]
            if len(keys) <= self.MAX_LITERAL_DELETE_KEYS:
                # literal isin: pushed to the parquet scan, so parquet
                # row-group stats prune WITHIN the surviving files too
                # (compaction clusters rows on (series, t_us))
                df = df.where(F.col(key_col).isin(keys))
            else:
                keys_df = self.spark.createDataFrame(
                    [(k,) for k in keys], f"{key_col} string"
                )
                df = df.join(F.broadcast(keys_df), key_col, "left_semi")
        return df.select(*self.series_cols, "t_us", *self.value_cols)

    def read(
        self,
        tier: str,
        start_us: int | None = None,
        end_us: int | None = None,
        as_of_version: int | None = None,
        tag: str | None = None,
        series: str | Sequence[str] | None = None,
    ) -> DataFrame:
        """Snapshot read; ``as_of_version`` time-travels to an earlier
        manifest (Iceberg ``VERSION AS OF``): replaced files stay on disk
        for ``GC_GRACE_VERSIONS`` commits, so any version listed by
        :meth:`versions` resolves to a consistent historical view.
        Older versions raise :class:`TimeTravelError`.  ``tag`` resolves
        a named ref (:meth:`tag`) — tagged snapshots resolve indefinitely
        (their manifests and files are GC-pinned). A tier with no
        manifest reads as empty.

        ``series`` restricts the read to the given series key(s) — the
        reference's per-observatory fetch (``TimeseriesFactory
        .get_timeseries(observatory=...)``), done scan-side: the file
        list is pruned driver-side to the keys' ``p_bucket`` dirs AND to
        files whose manifest series bounds contain a requested key, so a
        one-url history read over a compacted years-deep tier plans
        O(files-that-can-match), not O(tier). The surviving scan still
        carries the row-level predicate."""
        base = self.path(tier)
        if tag is not None:
            if as_of_version is not None:
                raise ValueError("pass either tag or as_of_version, not both")
            refs = self._load_refs(base) if os.path.exists(base) else {}
            if tag not in refs:
                raise TimeTravelError(
                    f"tier {tier!r} has no tag {tag!r}"
                    f" (tags: {sorted(refs)})"
                )
            as_of_version = refs[tag]
        if not os.path.exists(base):
            if as_of_version is not None:
                raise TimeTravelError(f"no such tier {tier!r}")
            return self._empty()
        if tag is None and as_of_version is None and self.read_ref is not None:
            # write-audit-publish consumer: resolve the published ref;
            # a tier with no published snapshot yet reads as empty
            refs = self._load_refs(base)
            if self.read_ref not in refs:
                return self._empty()
            as_of_version = refs[self.read_ref]
        if as_of_version is not None:
            m = self._version_manifest(tier, as_of_version)
        else:
            m = self._load_manifest(base)
        return self._scan(base, m, start_us, end_us, self._series_keys(series))

    def explain_read(
        self,
        tier: str,
        start_us: int | None = None,
        end_us: int | None = None,
        series: str | Sequence[str] | None = None,
    ) -> dict:
        """Dry-run of :meth:`read`'s driver-side pruning: how many live
        files the scan would plan and WHY the rest were skipped
        (p_date path, key bucket under the file's spec, manifest column
        bounds) — the observability hook an operator checks before
        blaming Spark for a slow range read. Also reports pending
        equality deletes (files that will pay the mask anti-join).
        Metadata only; no Spark job. Works on packed tiers too, whose
        ``t_us`` is the segment start: :meth:`read_packed` plans with its
        start widened by one segment width."""
        base = self.path(tier)
        m = self._load_manifest(base)
        if m is None:
            return {"tier": tier, "files_total": 0, "scanned": 0}
        seq = m.get("seq", {})
        dels = m.get("deletes", [])
        max_dv = max((int(e["version"]) for e in dels), default=0)
        out = {
            "tier": tier,
            "files_total": len(m["files"]),
            "pruned_date": 0,
            "pruned_bucket": 0,
            "pruned_bounds": 0,
            "scanned": 0,
            "masked_scan": 0,
            "pending_delete_files": len(dels),
        }
        why = self._pruner(m, start_us, end_us, self._series_keys(series))
        for f in m["files"]:
            reason = why(f)
            if reason is not None:
                out[f"pruned_{reason}"] += 1
                continue
            out["scanned"] += 1
            if int(seq.get(f, 0)) < max_dv:
                out["masked_scan"] += 1
        return out

    # --------------------------------------------------------- changelog
    def _version_manifest(self, tier: str, version: int) -> dict:
        m = self._load_manifest(self.path(tier), version)
        if m is None:
            raise TimeTravelError(
                f"tier {tier!r} snapshot v{version} is not resolvable "
                f"(resolvable: {self.versions(tier)})"
            )
        return m

    def changelog(
        self, tier: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change feed between two snapshot versions — the
        Iceberg incremental-read / CDC contract a downstream consumer
        (derived tier, export, cache invalidation) polls instead of
        re-scanning the table.

        Returns ``(series..., t_us, value..., op)`` where ``op`` is
        ``'upsert'`` (row new or value changed in ``to``) or ``'delete'``
        (key live in ``from``, gone in ``to`` — retention expiry or
        series erasure). Both versions must still resolve
        (:class:`TimeTravelError` otherwise — poll within the
        ``GC_GRACE_VERSIONS`` window, as with Iceberg
        ``expire_snapshots``).

        Cost is O(changed partitions), never O(table): every commit
        replaces touched partitions wholesale, so the row diff is fully
        contained in the manifests' added/removed file sets — only those
        files are read. Unchanged rows rewritten by the partition
        overwrite cancel in the full-row EXCEPT (NaN-normalized, as with
        groupBy), which also makes COMPACTION invisible: a rewrite with
        identical rows yields an empty changelog. One exchange per side
        (the set-op / anti-join key hash); nothing touches the driver
        but the file lists.
        """
        m_from = self._version_manifest(tier, from_version)
        if to_version is None:
            m_to = self._load_manifest(self.path(tier))
            if m_to is None:
                raise TimeTravelError(f"tier {tier!r} has no manifest")
        else:
            m_to = self._version_manifest(tier, to_version)
        added = sorted(set(m_to["files"]) - set(m_from["files"]))
        removed = sorted(set(m_from["files"]) - set(m_to["files"]))
        base = self.path(tier)
        cols = [*self.series_cols, "t_us", *self.value_cols]

        def _read(mf, files):
            if not files:
                return self._empty().select(*cols)
            # declared-schema read (a changelog spanning a schema-add
            # commit compares old files — added column -> NULL — against
            # new ones, so the column addition surfaces as value upserts)
            # through each snapshot's OWN equality-delete mask, so rows a
            # pending delete hides are consistently absent from that side
            return self._read_live(base, mf, files).select(*cols)

        new_rows, old_rows = _read(m_to, added), _read(m_from, removed)
        keys = [*self.series_cols, "t_us"]
        upserts = new_rows.exceptAll(old_rows).withColumn(
            "op", F.lit("upsert")
        )
        deletes = (
            old_rows.join(new_rows.select(*keys), keys, "left_anti")
            .select(*cols)
            .withColumn("op", F.lit("delete"))
        )
        out = upserts.unionByName(deletes)
        # equality deletes committed in (from, to] mask rows in files
        # COMMON to both snapshots — invisible to the file diff above.
        # Common files necessarily have sequence <= from_version < the
        # delete's version, so the mask condition collapses to a plain
        # key match. Old values come from the from-snapshot restricted to
        # the delete keys; keys re-inserted via added files are excluded
        # (they surface as upserts instead).
        new_dels = [
            e
            for e in m_to.get("deletes", [])
            if int(e["version"]) > from_version
        ]
        common = sorted(set(m_from["files"]) & set(m_to["files"]))
        if new_dels and common:
            kd = None
            for e in new_dels:
                one = self.spark.read.parquet(
                    f"{base}/{e['file']}"
                ).select(*keys)
                kd = one if kd is None else kd.unionByName(one)
            kd = kd.distinct()
            cand = (
                self._read_live(base, m_from, common)
                .select(*cols)
                .join(F.broadcast(kd), keys, "left_semi")
            )
            eq_deleted = (
                cand.join(new_rows.select(*keys), keys, "left_anti")
                .select(*cols)
                .withColumn("op", F.lit("delete"))
            )
            out = out.unionByName(eq_deleted)
        return out

    # ------------------------------------------------------------- stats
    def stats(self, tier: str) -> dict:
        """One-aggregate tier profile for monitoring dashboards: row count,
        valid fraction, time span, and approx distinct series (HLL sketch —
        exact distinct over 10^8 urls would itself be a shuffle)."""
        df = self.read(tier)
        v = F.col(self.value_cols[0])
        valid = (
            v.isNotNull() & ~F.isnan(v)
            if dict(df.dtypes)[self.value_cols[0]] == "double"
            else v.isNotNull()
        )
        r = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(valid, True)).alias("valid"),
            F.min("t_us").alias("t_min"),
            F.max("t_us").alias("t_max"),
            F.approx_count_distinct(self.series_cols[0]).alias("approx_series"),
        ).first()
        return {
            "tier": tier,
            "rows": r.rows,
            "valid_rows": r.valid,
            "t_min_us": r.t_min,
            "t_max_us": r.t_max,
            "approx_series": r.approx_series,
        }

    # ------------------------------------------------- metadata tables
    # Iceberg exposes table internals as queryable relations
    # (``db.table.files`` / ``.snapshots`` / ``.partitions`` / ``.refs``);
    # these are the same contract over the manifest store. Everything is
    # built from the manifest JSON the planner already loads driver-side
    # — O(live files), the same bound read() pays before listing anything
    # — so a health dashboard can join/filter/aggregate them as ordinary
    # DataFrames without touching a single data file. (The reference has
    # no analog; its storage is opaque Edge/miniSEED services.)

    _META_FILES_SCHEMA = (
        "file string, content string, p_date string, p_bucket int, "
        "spec_id int, seq int, rows bigint, bytes bigint, "
        "t_min_us bigint, t_max_us bigint, "
        "series_min string, series_max string"
    )

    def meta_files(
        self,
        tier: str,
        as_of_version: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """The tier's file inventory as a DataFrame (Iceberg ``files`` +
        ``delete_files`` in one relation, told apart by ``content``:
        ``'data'`` rows are live data files with their commit sequence,
        partition coordinates, footer bounds and row counts straight from
        the manifest's data-file metrics; ``'equality_deletes'`` rows are
        pending merge-on-read delete files (their ``seq`` is the delete's
        commit version — the sequence-number gate readers mask with).
        Time-travels with ``as_of_version``/``tag`` like :meth:`read`."""
        base = self.path(tier)
        if tag is not None:
            refs = self._load_refs(base)
            if tag not in refs:
                raise TimeTravelError(
                    f"tier {tier!r} has no ref {tag!r} (refs: {sorted(refs)})"
                )
            as_of_version = refs[tag]
        if as_of_version is not None:
            m = self._version_manifest(tier, as_of_version)
        else:
            m = self._load_manifest(base)
        rows = []
        if m is not None:
            stats = m.get("stats", {})
            seq = m.get("seq", {})
            spec = m.get("spec", {})
            for f in m.get("files", []):
                st = stats.get(f) or [None] * 5
                try:
                    nbytes = os.path.getsize(os.path.join(base, f))
                except OSError:
                    nbytes = None
                rows.append(
                    (
                        f,
                        "data",
                        self._pdate_of(f),
                        self._pbucket_of(f),
                        int(spec.get(f, 0)),
                        int(seq.get(f, 0)),
                        st[4],
                        nbytes,
                        st[0],
                        st[1],
                        st[2],
                        st[3],
                    )
                )
            for e in m.get("deletes", []):
                try:
                    nbytes = os.path.getsize(os.path.join(base, e["file"]))
                except OSError:
                    nbytes = None
                rows.append(
                    (
                        e["file"],
                        "equality_deletes",
                        None,
                        None,
                        None,
                        int(e["version"]),
                        None,
                        nbytes,
                        None,
                        None,
                        None,
                        None,
                    )
                )
        return self.spark.createDataFrame(rows, self._META_FILES_SCHEMA)

    def meta_partitions(
        self,
        tier: str,
        as_of_version: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Per-partition rollup of :meth:`meta_files` (Iceberg
        ``partitions``): file count, row count, bytes, and time bounds per
        (p_date, p_bucket) — the compaction/skew dashboard (a partition
        with many small files wants :meth:`compact`; one with outsized
        rows is the skew candidate for :meth:`evolve_buckets`)."""
        return (
            self.meta_files(tier, as_of_version=as_of_version, tag=tag)
            .where(F.col("content") == "data")
            .groupBy("p_date", "p_bucket")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("rows").alias("rows"),
                F.sum("bytes").alias("bytes"),
                F.min("t_min_us").alias("t_min_us"),
                F.max("t_max_us").alias("t_max_us"),
            )
        )

    def meta_snapshots(self, tier: str) -> DataFrame:
        """Resolvable snapshot history as a DataFrame (Iceberg
        ``snapshots``/``history``): per version — live file/row totals,
        files added and removed vs the previous *resolvable* version, the
        pending equality-delete count, and whether it is the current
        snapshot. Rows are bounded by the GC grace window plus tagged
        pins, exactly the versions :meth:`read` can time-travel to."""
        base = self.path(tier)
        cur = self._load_manifest(base)
        cur_v = (cur or {}).get("version")
        rows = []
        prev_files: set[str] | None = None
        for v in self.versions(tier):
            m = self._version_manifest(tier, v)
            files = set(m.get("files", []))
            stats = m.get("stats", {})
            nrows = sum(
                (stats.get(f) or [None] * 5)[4] or 0 for f in files
            )
            rows.append(
                (
                    v,
                    len(files),
                    int(nrows),
                    len(files - prev_files) if prev_files is not None else None,
                    len(prev_files - files) if prev_files is not None else None,
                    len(m.get("deletes", [])),
                    v == cur_v,
                )
            )
            prev_files = files
        return self.spark.createDataFrame(
            rows,
            "version int, n_files int, rows bigint, added_files int, "
            "removed_files int, pending_deletes int, is_current boolean",
        )

    def maintenance_report(
        self,
        tier: str,
        small_files_per_partition: int = 4,
        skew_ratio: float = 8.0,
        delete_age_versions: int = 1,
    ) -> dict:
        """Maintenance advisor over the tier's metadata (no data scan, no
        Spark job — pure manifest math, the Iceberg maintenance-procedure
        checklist): which partitions want :meth:`compact` (small-file
        buildup), whether the row distribution across buckets is skewed
        enough to want :meth:`evolve_buckets`, whether pending
        equality-delete files have aged enough to want
        :meth:`materialize_deletes`, whether a spec migration is
        unfinished, and refs that no longer resolve. Returns a dict with
        a ``recommendations`` list of ``(action, reason)`` pairs —
        advisory only; nothing is mutated."""
        base = self.path(tier)
        m = self._load_manifest(base)
        report: dict = {
            "tier": tier,
            "version": (m or {}).get("version", 0),
            "n_files": len((m or {}).get("files", [])),
            "recommendations": [],
        }
        if m is None:
            return report
        stats = m.get("stats", {})
        spec_of = m.get("spec", {})
        specs = self._tier_specs(m)
        cur_spec = len(specs) - 1
        by_part: dict[tuple, list[str]] = {}
        by_bucket_rows: dict[int, int] = {}
        for f in m.get("files", []):
            part = (self._pdate_of(f), self._pbucket_of(f))
            by_part.setdefault(part, []).append(f)
            rows = (stats.get(f) or [None] * 5)[4] or 0
            if part[1] is not None:
                by_bucket_rows[part[1]] = by_bucket_rows.get(part[1], 0) + rows
        rec = report["recommendations"]
        crowded = sorted(
            f"p_date={d}/p_bucket={b}"
            for (d, b), fs in by_part.items()
            if len(fs) > small_files_per_partition
        )
        report["small_file_partitions"] = crowded
        if crowded:
            rec.append(
                (
                    "compact",
                    f"{len(crowded)} partition(s) exceed "
                    f"{small_files_per_partition} files "
                    f"(worst: {crowded[0]} with "
                    f"{max(len(fs) for fs in by_part.values())})",
                )
            )
        if len(by_bucket_rows) >= 2:
            ordered = sorted(by_bucket_rows.values())
            med = ordered[len(ordered) // 2]
            hot = ordered[-1]
            report["bucket_rows"] = dict(sorted(by_bucket_rows.items()))
            if med > 0 and hot / med > skew_ratio:
                rec.append(
                    (
                        "evolve_buckets",
                        f"hottest bucket holds {hot} rows vs median {med} "
                        f"({hot / med:.1f}x > {skew_ratio}x) — re-bucket "
                        f"to spread it, then compact",
                    )
                )
        version = m["version"]
        aged = [
            e
            for e in m.get("deletes", [])
            if version - int(e["version"]) >= delete_age_versions
        ]
        report["pending_delete_files"] = len(m.get("deletes", []))
        if aged:
            rec.append(
                (
                    "materialize_deletes",
                    f"{len(aged)} equality-delete file(s) pending for "
                    f">= {delete_age_versions} commit(s) — every read "
                    f"pays their anti-join until materialized",
                )
            )
        migrating = sorted(
            {
                f
                for f in m.get("files", [])
                if int(spec_of.get(f, 0)) != cur_spec
            }
        )
        report["files_on_old_spec"] = len(migrating)
        if migrating:
            rec.append(
                (
                    "compact",
                    f"{len(migrating)} file(s) still laid out under an "
                    f"older bucket spec (specs={specs}) — compact to "
                    f"finish the migration and re-enable plain "
                    f"partition overwrites",
                )
            )
        stale_refs = sorted(
            name
            for name, v in self._load_refs(base).items()
            if not os.path.exists(
                self._manifest_version_path(base, int(v))
            )
        )
        report["unresolvable_refs"] = stale_refs
        if stale_refs:
            rec.append(
                (
                    "untag",
                    f"ref(s) {stale_refs} pin version(s) whose manifest "
                    f"no longer resolves",
                )
            )
        report["trash_files"] = len(m.get("trash", {}))
        return report

    def fsck(self, tier: str, repair: bool = False) -> dict:
        """Manifest↔disk consistency check (the ops primitive the
        manifest design needs but no normal code path runs: commits
        validate versions forward, never that yesterday's files still
        exist). Classifies every discrepancy:

        - ``missing_live``: manifest-live data or delete files absent on
          disk (bit rot, manual deletion, a restored partial backup) —
          reads WILL fail; never auto-repaired (repair would silently
          drop committed rows — restore the files or roll back instead).
        - ``missing_trashed``: trash entries whose file is already gone
          (harmless — GC would have unlinked them); ``repair`` drops the
          entries.
        - ``orphans``: on-disk parquet neither live nor trashed nor
          tag-pinned (crash debris from an aborted write); ``repair``
          unlinks them (same rule the next commit's listing sweep
          applies — fsck just does it without requiring a commit).
        - ``stats_gaps``: live files with no recorded bounds (never
          pruned — correct but slow); informational.

        Returns the report dict; ``ok`` is True when reads are safe
        (no ``missing_live``)."""
        base = self.path(tier)
        m = self._load_manifest(base)
        report: dict = {
            "tier": tier,
            "ok": True,
            "missing_live": [],
            "missing_trashed": [],
            "orphans": [],
            "stats_gaps": [],
            "repaired": False,
        }
        if m is None:
            return report
        listing = self._list_parquet(base)
        ddir = os.path.join(base, "_deletes")
        if os.path.isdir(ddir):
            listing |= {
                f"_deletes/{fn}"
                for fn in os.listdir(ddir)
                if fn.endswith(".parquet")
            }
        live = set(m.get("files", []))
        live_deletes = {e["file"] for e in m.get("deletes", [])}
        trash = dict(m.get("trash", {}))
        stats = m.get("stats", {})
        _, pinned = self._tag_protected(base)
        report["missing_live"] = sorted(
            (live | live_deletes) - listing
        )
        report["missing_trashed"] = sorted(set(trash) - listing)
        report["orphans"] = sorted(
            listing - live - live_deletes - set(trash) - pinned
        )
        report["stats_gaps"] = sorted(f for f in live if f not in stats)
        report["ok"] = not report["missing_live"]
        if repair and (report["orphans"] or report["missing_trashed"]):
            with self._commit_lock(base):
                m2 = self._load_manifest(base)
                # classifications were computed against `m`; only repair
                # what still holds under the re-read manifest
                live2 = set(m2.get("files", [])) | {
                    e["file"] for e in m2.get("deletes", [])
                }
                _, pinned2 = self._tag_protected(base)
                for f in report["orphans"]:
                    if f in live2 or f in m2.get("trash", {}) or f in pinned2:
                        continue
                    try:
                        os.remove(os.path.join(base, f))
                    except FileNotFoundError:
                        pass
                t2 = dict(m2.get("trash", {}))
                dropped = [
                    f
                    for f in report["missing_trashed"]
                    if f in t2
                    and not os.path.exists(os.path.join(base, f))
                ]
                for f in dropped:
                    del t2[f]
                if dropped:
                    # a real commit, not an in-place edit: snapshot
                    # manifests are immutable history (changelog and time
                    # travel resolve them) — hygiene advances the version
                    m2["trash"] = t2
                    self._commit_append(base, m2, set(), [])
            report["repaired"] = True
        return report

    def meta_refs(self, tier: str) -> DataFrame:
        """Named refs as a DataFrame (Iceberg ``refs``): tag name, pinned
        version, and whether the pinned manifest still resolves."""
        base = self.path(tier)
        rows = [
            (
                name,
                int(v),
                os.path.exists(self._manifest_version_path(base, int(v))),
            )
            for name, v in sorted(self._load_refs(base).items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, version int, resolvable boolean"
        )

    # --------------------------------------------------------- compaction
    def compact(self, tier: str, target_files_per_partition: int = 1) -> dict:
        """Rewrite each (p_date, p_bucket) partition's accumulated small
        files into ``target_files_per_partition`` — the Iceberg
        ``rewrite_data_files`` analog. Upserts rewrite whole partitions,
        but streaming epochs and repeated refreshes accrete files; at
        cluster scale unbounded file counts degrade scan planning, so
        compaction is a first-class maintenance op.

        Values are unchanged and CONCURRENT READERS ARE SAFE (both
        asserted in tests): the rewrite appends new files beside the old
        ones and flips the snapshot manifest; a reader that planned
        against the previous snapshot keeps reading its (still on-disk)
        files until trash GC, ``GC_GRACE_VERSIONS`` flips later.

        Packed siblings (``<tier>_packed``) commit through the same
        manifest but are refused here: this store's value schema does not
        hold their segment columns, and :meth:`write_packed` already lays
        out one file per touched partition."""
        if tier.endswith("_packed"):
            raise ValueError(
                "compact() operates on long-layout tiers; packed tiers are "
                "rewritten by write_packed"
            )
        base = self.path(tier)
        if not os.path.exists(base):
            return {"tier": tier, "files_before": 0, "files_after": 0}
        with self._commit_lock(base):
            m = self._load_manifest(base)
            before = len((m or {}).get("files", []))
            if before == 0:
                return {"tier": tier, "files_before": 0, "files_after": 0}
            df = self.read(tier)
            # re-bucket under the CURRENT spec: compaction is what
            # finishes a partition-spec evolution (old-spec and mixed
            # files migrate to one pure layout, like Iceberg's
            # rewrite_data_files after a spec change)
            part = self._partitioned(df, n_buckets=self._tier_specs(m)[-1])
            if target_files_per_partition <= 1:
                # hash-repartition on the partition cols: every (p_date,
                # p_bucket) lands whole in one task -> one file per partition
                compacted = part.repartition(F.col("p_date"), F.col("p_bucket"))
            else:
                # RANGE split, aligned with the cluster sort below: each
                # output file covers a contiguous (series, t_us) slice of
                # its partition, so the manifest's per-file series/t_us
                # bounds (and parquet row-group stats) become selective —
                # a hash salt would spread every series across every file
                # and make the bounds span everything (Iceberg's sorted
                # rewrite_data_files makes the same choice)
                n_dirs = len({os.path.dirname(f) for f in m["files"]})
                compacted = part.repartitionByRange(
                    max(1, n_dirs * int(target_files_per_partition)),
                    "p_date",
                    "p_bucket",
                    *self.series_cols,
                    "t_us",
                )
            # cluster rows inside each rewritten file (Iceberg
            # rewrite_data_files sort-order analog): ingest/upsert commits
            # append in arrival order, so row-group min/max stats on
            # (series, t_us) are useless until compaction lays them out —
            # sorted files give parquet row-group pruning teeth on range
            # reads and RLE/dictionary compression on the series columns
            # leading with the partition cols satisfies FileFormatWriter's
            # required ordering, so the writer skips its own (UNSTABLE)
            # partition-column sort instead of scrambling this one
            compacted = compacted.sortWithinPartitions(
                "p_date", "p_bucket", *self.series_cols, "t_us"
            )
            pre = self._list_parquet(base)
            (
                compacted.write.mode("append")
                .partitionBy("p_date", "p_bucket")
                .parquet(base)
            )
            after = self._list_parquet(base)
            new_files = after - pre
            # the rewrite read through the equality-delete mask and
            # replaced every data file, so pending deletes are fully
            # materialized — retire their files with this commit
            self._commit_append(
                base,
                m,
                new_files,
                list(m["files"]),
                listing=after,
                set_deletes=[],
            )
        return {
            "tier": tier,
            "files_before": before,
            "files_after": len(new_files),
        }

    # ----------------------------------------------------- packed segments
    #: value columns of a packed sibling tier: one Gorilla segment per
    #: (series, segment window), stored with the segment start as ``t_us``
    PACKED_SCHEMA = "n long, ts_codec binary, val_codec binary"

    def packed_view(self) -> "TierStore":
        """This store's view of the packed sibling tiers (``<tier>_packed``):
        same root, bucket count and lock policy, with the segment value
        schema :data:`PACKED_SCHEMA`. The store is value-schema-agnostic,
        so packed tiers get every manifest operation — snapshot commits,
        time travel, :meth:`rollback`, :meth:`delete_series`, retention,
        :meth:`fsck` — through this view. It never resolves ``read_ref``:
        packed reads always see the current snapshot."""
        return TierStore(
            self.spark,
            self.root,
            n_buckets=self.n_buckets,
            series_cols=self.series_cols,
            lock_wait_s=self.lock_wait_s,
            upsert_retries=self.upsert_retries,
            value_schema=self.PACKED_SCHEMA,
        )

    def write_packed(
        self, df: DataFrame, tier: str, segment_us: int = 86400 * US
    ) -> None:
        """Persist a tier Gorilla-packed as ``<tier>_packed``: one binary
        segment row per (series, segment window) — XOR-encoded values +
        delta-of-delta timestamps (``operators/segments.py``) — committed
        through :meth:`write` of the :meth:`packed_view`. Packed tiers
        are therefore snapshot tiers like the long layout: a partition
        overwrite of the touched ``(p_date, p_bucket)`` partitions (the
        segment start decides ``p_date``), concurrent readers keep their
        snapshot, and retention, erasure and rollback go through the
        manifest. ``segment_us`` is recorded in ``_segment_meta.json``
        by the tier's first write and is fixed from then on: every
        snapshot, including rollback and time-travel targets, is read
        with that one width, so a write with another width raises
        ``ValueError`` (rebuild the tier from a fresh directory to change
        it). The bucket spec comes from the manifest. The coarse tiers'
        long-term storage format per BASELINE."""
        from ..operators.segments import pack_segments

        if self.value_cols != ["value"]:
            raise ValueError(
                "Gorilla-packed tiers require the double signal shape "
                f"(value double); this store holds {self.value_schema!r}"
            )
        segs = pack_segments(df, segment_us, self.series_cols)
        path = self.path(f"{tier}_packed")
        meta = f"{path}/_segment_meta.json"
        if self._load_manifest(path) is None:
            os.makedirs(path, exist_ok=True)
            with open(meta + ".tmp", "w") as f:
                json.dump({"segment_us": int(segment_us)}, f)
            os.replace(meta + ".tmp", meta)
        else:
            with open(meta) as f:
                recorded = int(json.load(f)["segment_us"])
            if recorded != int(segment_us):
                raise ValueError(
                    f"{tier}_packed holds {recorded} us segments; a write "
                    f"of {int(segment_us)} us segments would misread every "
                    f"snapshot"
                )
        self.packed_view().write(
            segs.withColumnRenamed("seg_start_us", "t_us"), f"{tier}_packed"
        )

    def read_packed(
        self,
        tier: str,
        start_us: int | None = None,
        end_us: int | None = None,
        series: str | Sequence[str] | None = None,
    ) -> DataFrame:
        """Range-read a packed tier back as long rows. The segment files
        are planned from the current snapshot manifest with the same
        date, bucket and bounds pruning as :meth:`read` — the start of
        the range widened by one segment width, since a segment that
        starts before ``start_us`` may still contain it — and the
        surviving segments' predicates reach the parquet scan, so only
        they pay the one Arrow decode; exact t_us trimming follows.

        ``series`` restricts the read to the given series key(s) before
        the decode: the plan keeps only the keys' ``p_bucket`` files and
        the key predicate drops the other series' segments in them, so a
        one-url read decodes that url's segments and nothing else."""
        from ..operators.segments import unpack_segments

        base = self.path(f"{tier}_packed")
        m = self._load_manifest(base)
        keys = self._series_keys(series)
        if m is None or (keys is not None and not keys):
            return self._empty()
        with open(f"{base}/_segment_meta.json") as f:
            segment_us = int(json.load(f)["segment_us"])
        seg_lo = (
            max(int(start_us) - segment_us + 1, 0)
            if start_us is not None
            else None
        )
        segs = self.packed_view()._scan(base, m, seg_lo, end_us, keys)
        rows = unpack_segments(segs, self.series_cols)
        if start_us is not None:
            rows = rows.where(F.col("t_us") >= int(start_us))
        if end_us is not None:
            rows = rows.where(F.col("t_us") <= int(end_us))
        return rows.select(*self.series_cols, "t_us", "value")

    # --------------------------------------------------------- retention
    def expire_before(self, tier: str, cutoff_us: int) -> list[str]:
        """Retention: drop whole day partitions older than the cutoff, on
        long and packed tiers alike — a metadata-only delete (one
        manifest flip; the expired files follow via trash GC — Iceberg's
        partition drop + ``expire_snapshots`` pair), so in-flight readers
        are unaffected. Returns the dropped ``p_date=`` partitions."""
        base = self.path(tier)
        if not os.path.exists(base):
            return []
        cutoff_date = self._day(cutoff_us)
        with self._commit_lock(base):
            m = self._load_manifest(base)
            expired = [
                f
                for f in (m or {}).get("files", [])
                if (pd := self._pdate_of(f)) is not None and pd < cutoff_date
            ]
            if expired:
                self._commit_append(base, m, set(), expired)
        return sorted({f"p_date={self._pdate_of(f)}" for f in expired})

    # --------------------------------------------------------- state tiers
    #
    # Per-series operator state (e.g. SqDist Holt-Winters JSON) as a
    # parquet table keyed by the series — the reference's statefile
    # (``SqDistAlgorithm.py:122-167``) scaled out to millions of series:
    # state flows executor<->disk, never through the driver.
    #
    # Layout is SNAPSHOT-VERSIONED (the Iceberg pattern): each write lands
    # a complete new generation ``v<n>/`` and atomically advances the
    # ``_CURRENT`` pointer (os.replace). Readers resolve the pointer at
    # plan time and keep reading their generation's immutable files even
    # while a writer lands the next one — no FileNotFound races against
    # lazy downstream plans — and a crash mid-write leaves the previous
    # generation current (the statefile advance-after-data-lands
    # contract). The last ``keep`` generations are retained; state rows
    # are tiny. Single-writer per state name.

    STATE_KEEP_GENERATIONS = 3

    def state_path(self, name: str) -> str:
        return f"{self.root}/_state_{name}"

    def _state_current(self, name: str) -> str | None:
        ptr = f"{self.state_path(name)}/_CURRENT"
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return f.read().strip() or None

    def write_state(self, state_df: DataFrame, name: str) -> None:
        """Merge ``state_df`` into the state table as a new generation:
        last-wins on the series key; series absent from ``state_df`` keep
        their old state."""
        import shutil

        base = self.state_path(name)
        os.makedirs(base, exist_ok=True)
        cur = self._state_current(name)
        new = state_df.select(*self.series_cols, "state_json")
        if cur is not None:
            prev = self.read_state(name)
            keep = prev.join(
                new.select(*self.series_cols), self.series_cols, "left_anti"
            )
            merged = keep.unionByName(new)
            n_next = int(cur[1:]) + 1
        else:
            merged = new
            n_next = 1
        gen = f"v{n_next:08d}"
        (
            merged.repartition(max(1, self.n_buckets // 4), *self.series_cols)
            .write.mode("overwrite")
            .parquet(f"{base}/{gen}")
        )
        tmp = f"{base}/_CURRENT.tmp"
        with open(tmp, "w") as f:
            f.write(gen)
        os.replace(tmp, f"{base}/_CURRENT")  # atomic pointer advance
        for d in sorted(os.listdir(base)):
            if d.startswith("v") and int(d[1:]) <= n_next - self.STATE_KEEP_GENERATIONS:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    def read_state(self, name: str) -> DataFrame:
        """Per-series state table ``(series_cols..., state_json)`` at the
        current generation; empty frame when no state exists yet."""
        cur = self._state_current(name)
        cols = ", ".join(f"{c} string" for c in self.series_cols)
        if cur is None:
            return self.spark.createDataFrame(
                [], schema=f"{cols}, state_json string"
            )
        return self.spark.read.parquet(f"{self.state_path(name)}/{cur}").select(
            *self.series_cols, "state_json"
        )

    # ----------------------------------------------------- lineage & metrics
    def append_lineage(self, tier: str, records: list[dict]) -> None:
        """Per-partition lineage: which run produced which partition from
        which input coverage (append-only JSONL — tiny metadata)."""
        path = f"{self.root}/_lineage_{tier}.jsonl"
        with open(path, "a") as f:
            for rec in records:
                f.write(json.dumps(rec, sort_keys=True) + "\n")

    def read_lineage(self, tier: str) -> list[dict]:
        path = f"{self.root}/_lineage_{tier}.jsonl"
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    # ------------------------------------------------------ consumer cursors
    # A CDC consumer (``pipeline.sync_from_cursor``, an export job, a cache
    # invalidator) polls ``changelog(tier, v_cursor)`` and must remember
    # ``v_cursor`` across invocations. The store owns that bookkeeping so
    # the cron scheduler stays stateless (the reference's Controller
    # ``--realtime`` analog keeps its resume pointer in the statefile,
    # ``SqDistAlgorithm.py:122-167`` — same contract, per consumer): one
    # tiny JSON per (tier, consumer), written atomically (tmp +
    # ``os.replace``). Cursors only move forward — a regression is a
    # consumer bug and raises unless ``force=True`` (the deliberate
    # re-baseline after a :class:`TimeTravelError`).

    def _cursor_path(self, tier: str, consumer: str) -> str:
        safe = "".join(
            ch if ch.isalnum() or ch in "-_." else "_" for ch in consumer
        )
        return f"{self.root}/_cursors/{tier}.{safe}.json"

    def get_cursor(self, tier: str, consumer: str) -> int | None:
        """Last snapshot version ``consumer`` acknowledged for ``tier``,
        or None if the consumer has never baselined."""
        path = self._cursor_path(tier, consumer)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return int(json.load(f)["version"])

    def set_cursor(
        self, tier: str, consumer: str, version: int, force: bool = False
    ) -> None:
        """Acknowledge ``version``: the consumer has fully processed every
        change up to and including it. Regressions raise (replaying a CDC
        window would double-apply non-idempotent consumers) unless
        ``force=True``."""
        prev = self.get_cursor(tier, consumer)
        if prev is not None and version < prev and not force:
            raise ValueError(
                f"cursor regression for {consumer!r} on {tier!r}: "
                f"{prev} -> {version} (pass force=True to re-baseline)"
            )
        path = self._cursor_path(tier, consumer)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": int(version)}, f)
        os.replace(tmp, path)  # atomic advance

    def cursors(self, tier: str) -> dict:
        """All recorded consumer cursors for ``tier`` (consumer -> version)."""
        d = f"{self.root}/_cursors"
        if not os.path.isdir(d):
            return {}
        out = {}
        for fn in os.listdir(d):
            if fn.startswith(f"{tier}.") and fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    out[fn[len(tier) + 1 : -5]] = int(json.load(f)["version"])
        return out

    @staticmethod
    def _txn_of(m: dict | None, sink_id: str) -> int:
        return int((m or {}).get("txns", {}).get(sink_id, -1))

    def txn_epoch(self, tier: str, sink_id: str) -> int:
        """Last streaming epoch ``sink_id`` committed into ``tier`` (-1
        when none): the manifest's record of what is already applied."""
        return self._txn_of(self._load_manifest(self.path(tier)), sink_id)

    def current_version(self, tier: str) -> int:
        """Current snapshot version of ``tier`` (TimeTravelError if the
        tier has never been written)."""
        m = self._load_manifest(self.path(tier))
        if m is None:
            raise TimeTravelError(f"tier {tier!r} has no manifest")
        return int(m["version"])
