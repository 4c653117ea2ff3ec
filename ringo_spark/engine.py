"""Engine driver: run the derived star schema end-to-end.

Where the reference's ``writeFiles`` (``app/Main.hs:35-83``) emits SQL text
for Postgres to run later, this engine *executes* the population dataflows
in dependency order and persists the results, while still emitting the
same artifacts for orchestration parity:

- ``dependencies.json`` — union of every fact's DAG (Main.hs:43-46)
- ``dimensions.json``   — derived dimension table names (Main.hs:48-49)
- ``facts.json``        — extracted fact table names (Main.hs:51-52)
- ``create/ fullrefresh/ increfresh/`` SQL files via :mod:`generator.sqlgen`

Execution model (Spark-first):

- A refresh follows the dependency DAG of ``dependencies.json`` in two
  waves: every derived dimension depends only on sources, and every fact
  only on sources and dimensions, never on another fact.  The dimension wave
  builds each dimension once, side by side; the fact wave then builds the
  facts side by side, each re-reading its persisted dimensions so
  surrogate keys are consistent across facts sharing a dim.  Every
  table's Spark jobs carry the job tag ``ringo-table:<table>``.
- Every write lands in an immutable ``<table>__vN`` directory and becomes
  visible when the table's manifest (``<table>.manifest.json``) is
  replaced atomically — the reference's ``{{suff}}`` staging-table swap
  (Generator/Internal.hs:38-41), in a form that is also safe on object
  stores.  One manifest publish commits the data, the table's resume
  watermark and its micro-batch tags together; nothing else holds
  warehouse state.
- Incremental refresh appends the window since the stored watermark as a
  new directory of the snapshot.  Dimension increments anti-join the
  existing table and offset surrogate ids.
- Fact tables are written partitioned by a derived day column
  (``<time>_day``) when ``partition_facts`` — the Spark analogue of the
  reference's time-column index (Create.hs:87-98): partition pruning at
  read time.  TenantId columns are appended to the partition spec, the
  analogue of the (tenant, time) composite index (Create.hs:96-98).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import cast_to_declared
from .extractor import (
    extract_dependencies, extract_dimension_tables, extract_fact_table,
)
from .generator import sqlgen
from .model import DimTime, Env, Fact, PopulationMode, TenantId

log = logging.getLogger(__name__)
from .populate.dimension import dimension_population_df
from .populate.fact import fact_population_df


class ManifestConflict(RuntimeError):
    """Another writer advanced the table's manifest between this writer's
    read and its publish; the caller re-reads and retries."""


class LegacyWarehouseError(ValueError):
    """The storage path holds warehouse-wide state files of the retired
    rename commit protocol: its tables are plain directories with no
    manifest, so this engine can neither read them nor resume them."""


# state files the rename protocol kept next to its tables
_LEGACY_STATE_FILES = ("_watermarks.json", "_rename_windows.json",
                       "_batch_tags.json")


class Engine:
    def __init__(self, spark: SparkSession, env: Env, storage_path: str,
                 partition_facts: bool = False,
                 count_distinct_mode: str = "sketch",
                 keep_versions: int = 1,
                 salt_tenant_buckets: int = 0):
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        legacy = [f for f in _LEGACY_STATE_FILES
                  if os.path.exists(os.path.join(storage_path, f))]
        if legacy:
            raise LegacyWarehouseError(
                f"{storage_path} holds {', '.join(legacy)}: it was written "
                "by the retired rename commit protocol, whose tables have "
                "no manifest and whose watermarks this engine cannot "
                "resume from.  Run a full refresh into a new storage path")
        # how many published versions stay readable.
        # keep_versions > 1 enables time-travel (`read_table(version=N)`) —
        # pin a training run to a snapshot while refreshes continue.
        self.keep_versions = keep_versions
        # count_distinct_mode defaults to "sketch" for persisted tables:
        # the reference stores mergeable HLL register state in the fact
        # table (Populate/Fact.hs:60-120) precisely so coarser rollups can
        # re-aggregate it — hll_sketch_agg/hll_union is our equivalent.
        self.spark = spark
        self.env = env
        self.storage = storage_path
        self.partition_facts = partition_facts
        self.count_distinct_mode = count_distinct_mode
        # opt-in hot-tenant skew gate: > 0 routes every TenantId-grain
        # fact population through the two-phase salted aggregation
        # (populate/fact.py docstring; shape in functions/skew.py)
        self.salt_tenant_buckets = salt_tenant_buckets
        self.sources: dict[str, DataFrame] = {}
        os.makedirs(storage_path, exist_ok=True)

    # --- sources -----------------------------------------------------------

    def register_source(self, name: str, df: DataFrame) -> None:
        table = self.env.find_table(name)
        self.sources[name] = cast_to_declared(df, table) if table else df

    def load_sources(self, sf_dir: str) -> None:
        for t in self.env.tables:
            path = f"{sf_dir}/{t.name}.parquet"
            if os.path.exists(path):
                self.register_source(t.name, self.spark.read.parquet(path))

    def parent_join_pairs(self) -> list[tuple]:
        """(child_table, child_cols, parent_table, parent_cols) for every
        parent-fact source join a run will execute — the declared FKs that
        feed the one fact-sized shuffle in the pipeline.  Column entries
        are a plain name for single-column FKs and a tuple of names for
        composite FKs: the bucketer must bucket on ALL columns of a
        composite key or the promised no-Exchange join silently shuffles
        anyway (ADVICE r05)."""
        from .extractor import extract_all_dimension_tables
        from .model import ForeignKey

        pairs = []
        for fact in self.env.facts:
            if not fact.persistent:
                continue
            f_table = self.env.find_table(fact.table_name)
            parents = {df.table_name
                       for df, _ in extract_all_dimension_tables(self.env, fact)
                       if df.table_name != fact.table_name}
            for c in f_table.constraints:
                if isinstance(c, ForeignKey) and c.table in parents:
                    mine = tuple(m for m, _ in c.columns)
                    theirs = tuple(t for _, t in c.columns)
                    pair = (fact.table_name,
                            mine[0] if len(mine) == 1 else mine,
                            c.table,
                            theirs[0] if len(theirs) == 1 else theirs)
                    if pair not in pairs:
                        pairs.append(pair)
        return pairs

    def bucketize_sources(self, num_buckets: int = 8,
                          pairs: list[tuple] | None = None) -> list[str]:
        """Store both sides of every parent-fact source join bucketed by
        the FK, and serve the sources from the bucketed tables from now on.

        This is the 100x-scale knob for the pipeline's one fact-sized
        shuffle (e.g. lineitem ⋈ orders): with both sides bucketed on the
        join key the sort-merge join runs with NO Exchange on either side
        (proven in tests/test_bucketing.py and test_engine.py).  One-time
        bucketed write, amortized across every subsequent refresh.  Call
        after ``load_sources``/``register_source``; join pairs default to
        the declared FKs (``parent_join_pairs``)."""
        import hashlib

        from .sources.bucketing import bucketize_for_fact_join

        if pairs is None:
            # Default path: a fact star with FKs to several parents via
            # different child columns is NORMAL, but one physical layout
            # can only co-locate one of those joins.  Keep the first key
            # requested per table and skip (with a log line) the rest —
            # the skipped joins simply shuffle as before.  The hard
            # ValueError in bucketize_for_fact_join is reserved for
            # explicitly passed pairs, where a silent skip would betray
            # the caller's stated intent (r06 ADVICE).
            seen: dict[str, list[str]] = {}
            pairs = []
            for lt, lc, rt, rc in self.parent_join_pairs():
                # keys stays a LIST of (table, cols): a dict would
                # collapse a self-join pair (lt == rt) to one entry with
                # rc overwriting lc, hiding a lc-vs-rc conflict on that
                # table and keeping an incompatible pair (r07 ADVICE)
                keys = [(t, [c] if isinstance(c, str) else list(c))
                        for t, c in ((lt, lc), (rt, rc))]
                if lt == rt and keys[0][1] != keys[1][1]:
                    log.info(
                        "bucketize_sources: skipping self-join %s(%s) ⋈ "
                        "%s(%s) — one physical layout cannot bucket the "
                        "same table on two key sets; this join will "
                        "shuffle", lt, lc, rt, rc)
                    continue
                conflict = next((t for t, cols in keys
                                 if seen.get(t, cols) != cols), None)
                if conflict is not None:
                    log.info(
                        "bucketize_sources: skipping join %s(%s) ⋈ %s(%s) — "
                        "%s already bucketed on %s; this join will shuffle",
                        lt, lc, rt, rc, conflict, seen[conflict])
                    continue
                seen.update(dict(keys))
                pairs.append((lt, lc, rt, rc))
        if not pairs:
            return []
        # sources are already cast to their declared schema, so the
        # bucketed tables are re-registered without a second cast (a cast
        # on the join key would defeat the bucketed-scan partitioning).
        # Catalog names are namespaced by this engine's storage path: two
        # engines in one session (or a rerun with different settings)
        # must not overwrite each other's saveAsTable entries, because
        # spark.table() resolves at ACTION time — a later engine's write
        # would silently redirect frames already held by the earlier one
        # (ADVICE r05).
        tag = hashlib.md5(os.path.abspath(self.storage).encode()).hexdigest()[:6]
        self.sources = bucketize_for_fact_join(
            self.spark, self.sources, pairs, num_buckets,
            prefix=f"bkt_{tag}_",
            path_root=os.path.join(self.storage, "_bucketed"))
        return sorted({n for p in pairs for n in (p[0], p[2])})

    # --- manifest-pointer commits (object-store-safe) ----------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.storage, table + ".manifest.json")

    # Manifest publishes are read-modify-write: two concurrent writers to
    # one table could each read version N and publish N+1, silently
    # dropping one append from the dir list (r07 VERDICT item 5).  Guard:
    # an exclusive ``fcntl.flock`` on a PERSISTENT lock file around a
    # compare-and-swap on the version read at the start of the write.
    # flock dies with its holder, so there is no staleness detection and
    # no lock *breaking* at all — the entire check-then-break TOCTOU
    # class the previous O_CREAT|O_EXCL design carried (two waiters both
    # judging one lock stale, the second's break deleting a freshly
    # acquired live lock — r08 ADVICE) cannot exist.  The lock file is
    # created once and NEVER unlinked: unlink-on-release would let a
    # blocked waiter acquire the lock on a deleted inode while a third
    # writer locks a new file at the same path.  Release is a plain
    # close.
    #
    # Deployment note: flock serializes LOCAL writers (threads AND
    # processes — flock is per open-file-description, so two fds in one
    # process exclude each other).  On an object store there is no
    # flock; there, correctness rests on the manifest CAS itself mapped
    # to a conditional PUT (If-Match ETag) on the manifest object, which
    # `_publish_manifest` is structured around — the lock is a local
    # contention optimization, not the integrity mechanism.
    # A CAS loser raises ManifestConflict; _write_full/_write_append
    # catch it, re-read the advanced manifest, and retry the publish —
    # their data sits untouched in a writer-unique stage dir, so nothing
    # is rewritten and the winner's dirs are folded into the dir list.
    _LOCK_WAIT_SECS = 30.0       # max time to wait for a live writer

    def _lock_path(self, table: str) -> str:
        return self._manifest_path(table) + ".lock"

    def _acquire_manifest_lock(self, table: str) -> int:
        """Exclusive flock on the table's persistent lock file; returns
        the locked fd.  Release is ``os.close(fd)``: the kernel drops
        the lock with the fd (and with the process, which is what makes
        crashed-writer staleness logic unnecessary).  The lock file
        stays on disk."""
        import errno
        import fcntl

        lock = self._lock_path(table)
        deadline = time.monotonic() + self._LOCK_WAIT_SECS
        while True:
            fd = os.open(lock, os.O_CREAT | os.O_RDWR)
            try:
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except OSError as e:
                        # only contention reads as "lock held"; a real
                        # error (EBADF, ENOLCK on NFS, ...) must surface
                        # immediately, not spin out the deadline
                        # (ADVICE r09).  EINTR just retries.
                        if e.errno not in (errno.EWOULDBLOCK, errno.EAGAIN,
                                           errno.EINTR):
                            raise
                        if time.monotonic() > deadline:
                            raise TimeoutError(
                                f"manifest lock for {table!r} held > "
                                f"{self._LOCK_WAIT_SECS}s ({lock})")
                        time.sleep(0.02)
                # guard against EXTERNAL deletion of the lock file while
                # we waited (we never unlink it ourselves): if the path
                # no longer names our locked inode, the lock we hold
                # excludes nobody — reopen and retry.  The reopen path
                # honors the SAME deadline (ADVICE r09: an external
                # process recreating the file in a loop must not make
                # this spin forever).
                try:
                    if os.stat(lock).st_ino == os.fstat(fd).st_ino:
                        return fd
                except FileNotFoundError:
                    pass
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"manifest lock file for {table!r} kept being "
                        f"externally replaced for > {self._LOCK_WAIT_SECS}s "
                        f"({lock})")
            except (TimeoutError, OSError):
                os.close(fd)
                raise
            os.close(fd)  # inode mismatch, not timed out: reopen fresh
            time.sleep(0.02)  # pace the reopen loop like the flock-
            # contention branch — an external process replacing the lock
            # file in a loop must not make this spin at full speed

    def _read_manifest(self, table: str) -> dict | None:
        mp = self._manifest_path(table)
        if not os.path.exists(mp):
            return None
        with open(mp) as fh:
            return json.load(fh)

    def _publish_manifest(self, table: str, version: int,
                          versions: dict[str, list[str]],
                          expected_version: int | None = None,
                          promote: tuple[str, str] | None = None,
                          schemas: dict[str, str] | None = None,
                          windows: dict[str, list] | None = None,
                          absorbed: list | None = None,
                          batch_tags: list | None = None,
                          watermark: str | None = None) -> None:
        """Atomic pointer flip: tmp file + ``os.replace`` locally — the
        analogue of a single small-object PUT on S3/GCS (which IS atomic,
        unlike directory rename there).  The manifest maps each retained
        version to its DIR LIST (a snapshot is the union of immutable
        dirs, Iceberg-style), so both full refreshes AND incremental
        appends become visible atomically: readers resolve the manifest
        first and see a complete previous snapshot or a complete new one,
        never a partial table.  The same flip publishes the table's
        resume ``watermark`` and its micro-batch ``batch_tags``, so no
        crash can leave data visible without them.

        ``expected_version`` arms the compare-and-swap: under the table's
        exclusive lock the manifest is re-read, and if its version moved
        past the one this writer based its dir list on, the publish is
        REJECTED with :class:`ManifestConflict` — last-writer-wins would
        silently drop the other writer's dirs from the snapshot (the
        object-store analogue is a conditional PUT / If-Match ETag).

        ``promote`` = (stage_dirname, final_dirname): writers land their
        data in a writer-UNIQUE stage dir (two writers racing to the
        same ``__vN`` name would overwrite each other's files before
        either published) and the winner renames it to the version name
        here, after the CAS check, still under the lock — a metadata-only
        rename, so the lock is never held across a data write.  A final
        dir already present at that point is provably an unreferenced
        orphan (version N publishes at most once; the CAS just proved N
        is unpublished) from a writer that crashed between rename and
        pointer flip — it is removed."""
        tomb = None
        fd = self._acquire_manifest_lock(table)
        try:
            if expected_version is not None:
                m = self._read_manifest(table)
                current = m["version"] if m else 0
                if current != expected_version:
                    raise ManifestConflict(
                        f"{table}: manifest advanced to v{current} while "
                        f"this writer prepared v{version} from "
                        f"v{expected_version}")
            if promote is not None:
                stage, final = (os.path.join(self.storage, d)
                                for d in promote)
                if os.path.exists(final):
                    # crash orphan, never published (the CAS just proved
                    # version N is unpublished).  Rename it aside and
                    # DELETE AFTER RELEASE: an rmtree of a table-sized
                    # dir would stretch the critical section from
                    # microseconds to seconds and stall every concurrent
                    # writer behind the flock.  Every operation under
                    # the lock stays metadata-only (reads, renames, one
                    # small replace).
                    tomb = final + ".tomb." + os.urandom(4).hex()
                    os.rename(final, tomb)
                os.rename(stage, final)
            tmp = self._manifest_path(table) + ".tmp"
            record = {"version": version, "versions": versions}
            if schemas is not None:
                # schema-on-manifest (see read_table): per retained
                # version, the authoritative reader schema
                record["schemas"] = schemas
            if windows is not None:
                # window-on-manifest (see _write_append): per still-
                # referenced dir, the [lower, upper) time window whose
                # rows it carries — the replace-key for idempotent
                # same-window fact reruns
                record["windows"] = windows
            if absorbed:
                # windows merged into an un-replaceable dir by
                # compact_fact (see there): a later append overlapping
                # one of these is REFUSED — the per-dir swap that made
                # same-window reruns idempotent no longer exists for
                # them.  A true full refresh publishes absorbed=None,
                # clearing the list (it recomputes everything).
                record["absorbed"] = absorbed
            if batch_tags:
                # content fingerprints of micro-batch appends already in
                # this snapshot (see _write_append): recorded in the SAME
                # atomic pointer flip as the data they describe, so a
                # foreachBatch retry can never observe the data without
                # its tag (or the tag without its data) — the
                # exactly-once gate for streaming fact appends (r18).
                # Compaction carries the list forward; a true full
                # refresh publishes batch_tags=None, clearing it.
                record["batch_tags"] = batch_tags
            if watermark is not None:
                # the exclusive upper bound of the refresh this snapshot
                # completes — the next incremental run's lower bound (see
                # run_fact).  Published with the data it describes.
                record["watermark"] = watermark
            with open(tmp, "w") as fh:
                json.dump(record, fh)
            os.replace(tmp, self._manifest_path(table))
        finally:
            os.close(fd)
        if tomb is not None:
            shutil.rmtree(tomb, ignore_errors=True)

    @staticmethod
    def _manifest_versions(m: dict) -> dict[str, list[str]]:
        if "versions" in m:
            return m["versions"]
        return {str(m["version"]): [m["dir"]]}  # pre-dirs-list manifests

    def _next_versions(self, m: dict | None, version: int,
                       dirs: list[str]) -> dict[str, list[str]]:
        """Retained-version map for a new publish: previous entries inside
        the retention horizon plus the new snapshot."""
        versions = dict(self._manifest_versions(m)) if m else {}
        versions = {v: ds for v, ds in versions.items()
                    if int(v) > version - self.keep_versions}
        versions[str(version)] = dirs
        return versions

    @staticmethod
    def _iso(bound) -> str | None:
        """Window bound -> ISO string (None passes through = unbounded).
        ``datetime.isoformat`` output is zero-padded, so lexicographic
        comparison of two bounds IS chronological comparison — including
        the no-microseconds short form, which prefix-compares correctly
        against the long form.  That property only holds when every stamp
        shares one clock, so tz-AWARE datetimes are converted to UTC and
        stamped NAIVE (the ``+00:00`` suffix would otherwise sort after a
        naive twin of the same instant and silently break the covers
        check across runs with mixed bounds); naive datetimes are taken
        to already BE UTC, which makes aware and naive inputs denoting
        the same instant produce the identical stamp."""
        if bound is None:
            return None
        if not hasattr(bound, "isoformat"):
            return str(bound)
        if getattr(bound, "tzinfo", None) is not None:
            from datetime import timezone

            bound = bound.astimezone(timezone.utc).replace(tzinfo=None)
        return bound.isoformat()

    @classmethod
    def _window_covers(cls, new_window: tuple, old: list | None) -> bool:
        """True when an incoming append's [lower, upper) window fully
        covers a live dir's recorded window — every row in that dir is
        being recomputed by this append, so the dir leaves the new
        snapshot (the MERGE/replaceWhere semantics).  A dir with no
        recorded window (full-refresh base, pre-window appends) is never
        replaced.  None bounds read as ±infinity."""
        if old is None:
            return False
        new_lo, new_hi = (cls._iso(b) for b in new_window)
        old_lo, old_hi = old
        lo_ok = new_lo is None or (old_lo is not None and new_lo <= old_lo)
        hi_ok = new_hi is None or (old_hi is not None and old_hi <= new_hi)
        return lo_ok and hi_ok

    @classmethod
    def _window_overlaps(cls, new_window: tuple, old: list | None) -> bool:
        """True when an incoming append's [lower, upper) window overlaps
        a recorded stamp at all (None bounds read as ±infinity) — the
        refuse-key for windows a compaction absorbed (r16 review)."""
        if old is None:
            return False
        new_lo, new_hi = (cls._iso(b) for b in new_window)
        old_lo, old_hi = old
        before = new_hi is not None and old_lo is not None and new_hi <= old_lo
        after = new_lo is not None and old_hi is not None and old_hi <= new_lo
        return not (before or after)

    def _next_windows(self, m: dict | None,
                      versions: dict[str, list[str]],
                      new_dir: str | None = None,
                      window: tuple | None = None) -> dict[str, list]:
        """Per-dir window map for a new publish: previous stamps pruned
        to dirs some retained version still references, plus the new
        dir's stamp when this append carries one."""
        referenced = {d for ds in versions.values() for d in ds}
        windows = {d: w for d, w in (m.get("windows", {}) if m else {}).items()
                   if d in referenced}
        if new_dir is not None and window is not None:
            windows[new_dir] = [self._iso(window[0]), self._iso(window[1])]
        return windows

    @staticmethod
    def _next_watermark(m: dict | None, upper) -> str | None:
        """Resume watermark for a new publish: the write's exclusive upper
        bound as ISO text, or — for an unbounded write (``upper`` None:
        streaming micro-batches, compaction, an unbounded refresh) — the
        previous snapshot's, carried forward."""
        if upper is None:
            return m.get("watermark") if m else None
        return upper.isoformat() if hasattr(upper, "isoformat") else str(upper)

    def _next_schemas(self, m: dict | None, version: int,
                      schema_json: str) -> dict[str, str]:
        """Per-retained-version schema map for a new publish — pruned on
        the same horizon as the dir lists, so a time-travel read always
        finds the schema its snapshot was published with."""
        schemas = dict(m.get("schemas", {})) if m else {}
        schemas = {v: s for v, s in schemas.items()
                   if int(v) > version - self.keep_versions}
        schemas[str(version)] = schema_json
        return schemas

    @staticmethod
    def _union_schema(prev_json: str | None, df: DataFrame) -> str:
        """Schema evolution for appends: the published snapshot's schema
        is the PREVIOUS schema plus any columns the append adds (old
        files simply lack the new columns — the explicit reader schema
        null-fills them, no footer merge ever happens).  A same-name
        column with a DIFFERENT type is a declared-schema conflict and
        fails loudly — silent coercion would corrupt every older file's
        reads.

        DROP CONTRACT: appends can only ADD columns.  A column present
        in the published schema but absent from the appending frame is
        NOT dropped — it stays in the snapshot schema and the appended
        files read as null for it (they have no such column on disk).
        Dropping a column requires a FULL REFRESH, which records exactly
        the refreshing frame's schema; still-retained older versions
        keep their publish-time schema for time-travel reads.  Pinned by
        ``test_manifest_schema_drop_requires_full_refresh``.  Rationale:
        an append is an additive delta — inferring "user meant to drop"
        from an absent column would turn every projection mistake into
        silent data loss across the whole table history."""
        from pyspark.sql import types as T

        new = df.schema
        if prev_json is None:
            return new.json()
        prev = T.StructType.fromJson(json.loads(prev_json))
        by_name = {f.name: f for f in prev.fields}
        fields = list(prev.fields)
        for f in new.fields:
            old = by_name.get(f.name)
            if old is None:
                fields.append(f)
            elif old.dataType != f.dataType:
                raise ValueError(
                    f"schema conflict on append: column {f.name!r} is "
                    f"{old.dataType.simpleString()} in the published "
                    f"snapshot but {f.dataType.simpleString()} in the "
                    f"append — widen explicitly with a full refresh")
        return T.StructType(fields).json()

    _STAGE_ORPHAN_AGE_SECS = 3600.0   # crashed-writer stage dirs

    def _write_stage(self, df: DataFrame, table: str, partition_by=()) -> str:
        """Write the data payload into a writer-unique stage dir (pid +
        random token) — promoted to its ``__vN`` name under the publish
        lock.  Version-named dirs must never be write targets: two
        writers computing the same next version would overwrite each
        other's files before either publish."""
        stage = f"{table}__stage_{os.getpid()}_{os.urandom(4).hex()}"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self.storage, stage))
        return stage

    @staticmethod
    def _dir_version(name: str, prefix: str) -> int | None:
        """Version number parsed from a ``<table>__vN[...]`` dir name
        (tomb suffixes included); None when the suffix is not numeric."""
        digits = ""
        for ch in name[len(prefix):]:
            if not ch.isdigit():
                break
            digits += ch
        return int(digits) if digits else None

    @staticmethod
    def _newest_mtime(path: str, newer_than: float) -> bool:
        """True iff ANY entry under ``path`` is newer than the cutoff —
        early-exits on the first hit, so a LIVE write is detected from
        its most recent file without walking the whole tree."""
        try:
            if os.path.getmtime(path) > newer_than:
                return True
            for root, dirs, files in os.walk(path):
                for n in dirs + files:
                    if os.path.getmtime(os.path.join(root, n)) > newer_than:
                        return True
        except OSError:
            return True        # vanishing/err-ing entries: assume live
        return False

    def _gc_versions(self, table: str, versions: dict[str, list[str]],
                     published_version: int | None = None) -> None:
        """Drop ``<table>__v*`` dirs no retained snapshot references.  A
        crash anywhere here is harmless: orphans are re-collected on the
        next publish, and readers never resolve them.  Orphans from a
        crashed publish (written but never referenced) are collected the
        same way.

        Two liveness guards (post-review hardening):

        * GC runs AFTER the publish lock is released, so a concurrent
          writer may have published a HIGHER version by now — a dir with
          a version number above this writer's own publish is someone
          else's live data, never garbage.  (Versions at or below ours
          are final: our CAS proved them, so unreferenced ones really
          are orphans.)
        * A stage dir's TOP-LEVEL mtime is set when Spark creates it and
          is not refreshed as files stream into partition subdirs, so
          age is judged by the NEWEST entry anywhere under the dir
          (early-exit walk) — a live writer mid-write always has a
          recent file."""
        prefix = table + "__v"
        referenced = {d for ds in versions.values() for d in ds}
        cutoff = time.time() - self._STAGE_ORPHAN_AGE_SECS
        for d in os.listdir(self.storage):
            full = os.path.join(self.storage, d)
            if d.startswith(prefix) and d not in referenced:
                v = self._dir_version(d, prefix)
                if (published_version is not None and v is not None
                        and v > published_version):
                    continue    # a later concurrent writer's live data
                shutil.rmtree(full, ignore_errors=True)
            elif d.startswith(table + "__stage_"):
                if not self._newest_mtime(full, cutoff):
                    shutil.rmtree(full, ignore_errors=True)

    def _snapshot_paths(self, table: str, version: int | None = None,
                        m: dict | None = None) -> list[str]:
        """Dir list for a manifest snapshot (live or time-travel).

        Callers that also need other manifest fields (e.g. the snapshot
        schema) pass the already-read manifest as ``m`` so the dir list
        and those fields come from ONE consistent read — two separate
        reads can straddle a concurrent publish and pair version V's
        dirs with version V+1's schema."""
        if m is None:
            m = self._read_manifest(table)
        if m is None:
            raise FileNotFoundError(f"no manifest for table {table!r}")
        v = m["version"] if version is None else version
        dirs = self._manifest_versions(m).get(str(v))
        if dirs is None:
            raise FileNotFoundError(
                f"{table} version {v} is not retained "
                f"(live={m['version']}, keep_versions={self.keep_versions})")
        return [os.path.join(self.storage, d) for d in dirs]

    def table_exists(self, table: str) -> bool:
        return self._read_manifest(table) is not None

    def read_table(self, table: str, version: int | None = None) -> DataFrame:
        """Read the live table, or (``keep_versions`` > 1) time-travel to
        a still-retained published snapshot — e.g. pin a training run to
        version N while refreshes and appends move the pointer forward."""
        # ONE manifest read resolves both the dir list and the snapshot
        # schema — a second read could land after a concurrent publish
        # and pair version V's dirs with version V+1's schema (or a
        # dropped table's None).
        m = self._read_manifest(table)
        paths = self._snapshot_paths(table, version, m=m)
        # schema-on-manifest: the publish recorded the snapshot's
        # authoritative schema, so mixed-schema snapshots (an append
        # that ADDED columns) read correctly — older files null-fill
        # the missing columns under the explicit reader schema.
        # This is the scale-safe alternative to mergeSchema, which
        # reads EVERY file footer (a non-starter on a 100 TB table);
        # pre-schema manifests fall back to footer inference.
        v = m["version"] if version is None else version
        schema_json = (m.get("schemas") or {}).get(str(v))
        if schema_json is not None:
            from pyspark.sql import types as T

            return (self.spark.read
                    .schema(T.StructType.fromJson(json.loads(schema_json)))
                    .parquet(*paths))
        return self.spark.read.parquet(*paths)

    def table_versions(self, table: str) -> list[int]:
        """Retained (readable) versions, oldest first; [] when absent."""
        m = self._read_manifest(table)
        if m is None:
            return []
        return sorted(int(v) for v in self._manifest_versions(m))

    @contextmanager
    def _staged(self, df: DataFrame, table: str, partition_by=()):
        """Stage ``df`` for a publish and reclaim the stage dir on exit.
        A successful publish renamed it to its version name, so the
        reclaim is a no-op there; a refused, skipped or lost publish
        would otherwise leak a full copy of the payload on disk until
        some later publish's _gc_versions aged it out."""
        stage = self._write_stage(df, table, partition_by)
        try:
            yield stage
        finally:
            shutil.rmtree(os.path.join(self.storage, stage),
                          ignore_errors=True)

    def _write_full(self, df: DataFrame, table: str, partition_by=(),
                    absorbed: list | None = None,
                    preserve_windows: bool = False,
                    expected_input_version: int | None = None,
                    batch_tag: str | None = None, upper=None) -> None:
        """Crash-safe full-refresh publication: the refresh lands in an
        immutable ``<table>__vN`` dir; the manifest pointer flips only
        after the write completes, then stale versions are
        garbage-collected.  ``upper`` is the refresh's exclusive upper
        bound, published as the table's resume watermark.

        ``expected_input_version`` (compaction only, ADVICE r16): a full
        refresh whose payload was DERIVED from a specific published
        snapshot (compact_fact re-aggregates version V's rows) must not
        publish over a manifest that advanced past V — the concurrent
        commit's rows (and its window stamp) would silently vanish from
        the compacted snapshot.  The CAS loop's own retry-on-conflict is
        WRONG for such writers, so a version advance aborts with
        ManifestConflict and the caller reruns over the new snapshot."""
        with self._staged(df, table, partition_by) as stage:
            for _ in range(16):    # bounded CAS retry; no data rewrite
                m = self._read_manifest(table)
                if expected_input_version is not None and \
                        (m is None or m["version"] != expected_input_version):
                    # derived-payload writer (compaction): someone committed
                    # (or dropped/recreated the table) since the input
                    # snapshot was read — retrying the CAS would publish a
                    # snapshot missing their rows and their window stamp
                    # (a vanished manifest is the same case: without that
                    # arm a derived payload would publish as v1 over the
                    # recreated table).  Abort; the caller reruns over
                    # the current snapshot.
                    now = f"v{m['version']}" if m is not None else \
                        "a dropped/recreated manifest"
                    raise ManifestConflict(
                        f"{table}: manifest advanced to {now} "
                        f"after the compaction read its input at "
                        f"v{expected_input_version} — publishing would drop "
                        "the concurrent commit's rows; rerun the compaction")
                version = (m["version"] if m else 0) + 1
                dirname = f"{table}__v{version}"
                versions = self._next_versions(m, version, [dirname])
                schemas = self._next_schemas(m, version, df.schema.json())
                # a full refresh carries no window stamp (it covers
                # everything); prior stamps prune to dirs some retained
                # snapshot still references.  ``absorbed`` (compaction
                # only) carries the merged-away window stamps forward as
                # refuse-keys; a true full refresh passes None, clearing
                # them.
                wins = self._next_windows(m, versions)
                # batch tags follow the window rule: compaction
                # (preserve_windows=True) merges the tagged rows, so their
                # replay protection carries forward; a true full refresh
                # replaces them and clears the list — unless this full write
                # IS a tagged micro-batch (a streaming pipeline's first
                # batch landing on a nonexistent table), which seeds it.
                tags = (list(m.get("batch_tags", []))
                        if preserve_windows and m is not None else [])
                if batch_tag is not None and batch_tag not in tags:
                    tags.append(batch_tag)
                tags = self._bound_tags(tags)
                try:
                    self._publish_manifest(table, version, versions,
                                           expected_version=version - 1,
                                           promote=(stage, dirname),
                                           schemas=schemas, windows=wins,
                                           absorbed=absorbed,
                                           batch_tags=tags or None,
                                           watermark=self._next_watermark(
                                               m, upper))
                except ManifestConflict:
                    continue       # re-read the advanced manifest, retry
                self._gc_versions(table, versions,
                                  published_version=version)
                return
            raise ManifestConflict(
                f"{table}: full refresh lost the manifest CAS 16 times")

    def _write_append(self, df: DataFrame, table: str, partition_by=(),
                      window: tuple | None = None,
                      batch_tag: str | None = None, upper=None) -> None:
        """Append ``df`` as a new immutable dir of the live snapshot: the
        pointer flip adds it to the snapshot's dir list, so appends are
        as atomic as full refreshes on an object store (a crashed append
        leaves an unreferenced orphan, never a half-visible table).
        ``upper`` is published as the table's resume watermark in the
        same flip, so the data and its resume point commit together.

        ``batch_tag`` (streaming micro-batches, r18): a content
        fingerprint of the batch this append carries.  A tag already
        recorded for the table means the batch is fully committed — the
        append is a SKIPPED no-op (exactly-once across foreachBatch
        retries and checkpoint-lineage resets, where unbounded windows
        can't protect: they are refused as stamps below).  The tag is
        recorded in the SAME atomic pointer flip as the data.

        ``window=(lower, upper)`` stamps the dir with the time window it
        carries and REPLACES any live dirs whose recorded window the new
        one fully covers — MERGE/replaceWhere semantics on the window
        key.  A re-run of an already-committed fact window (late-arriving
        data, a healing rerun after a crash) then swaps the recomputed
        rows in atomically instead of double-counting them (pinned by
        ``test_incremental_rerun_same_window_is_idempotent``).  Forward
        windows are disjoint from every recorded stamp, so a normal
        incremental run is a pure append, exactly as before.  Replaced
        dirs stay on disk while an older retained snapshot references
        them (time travel); GC reclaims them on the usual horizon.
        A window with an unbounded (None) upper is refused as a stamp:
        it delimits nothing, and an unbounded stamp would cover every
        other unbounded stamp (the streaming micro-batch data-loss
        shape; see _run_fact_table)."""
        if window is not None and window[1] is None:
            window = None
        m = self._read_manifest(table)
        if m is None:
            raise FileNotFoundError(f"no manifest for table {table!r}")
        if batch_tag is not None and batch_tag in m.get("batch_tags", []):
            return            # batch already committed: retry is a no-op
        legacy_schema_cache: dict = {}
        with self._staged(df, table, partition_by) as stage:
            for _ in range(16):    # bounded CAS retry; no data rewrite
                m = self._read_manifest(table)
                if batch_tag is not None and batch_tag in m.get(
                        "batch_tags", []):
                    return    # a concurrent writer committed this batch
                version = m["version"] + 1
                dirname = f"{table}__v{version}"
                # live_dirs is re-resolved per attempt: on a lost CAS the
                # re-read picks up the OTHER writer's dirs, so both
                # appends end up in the published snapshot — the exact
                # lost-update the plain read-modify-write allowed
                live_dirs = self._manifest_versions(m)[str(m["version"])]
                if window is not None:
                    # windows a compaction merged away have no dir to
                    # swap — an overlapping rerun would silently double
                    # those rows, so it is refused
                    hit = [s for s in m.get("absorbed", [])
                           if self._window_overlaps(window, s)]
                    if hit:
                        lo, hi = (self._iso(b) for b in window)
                        raise ValueError(
                            f"{table}: append window [{lo}, {hi}) overlaps "
                            f"{len(hit)} window(s) merged by compaction "
                            f"(e.g. [{hit[0][0]}, {hit[0][1]})) — their "
                            "rows no longer live in a swappable dir, so "
                            "re-appending would double-count them.  "
                            "Re-run as a full refresh")
                    stamps = m.get("windows", {})
                    live_dirs = [d for d in live_dirs
                                 if not self._window_covers(window,
                                                            stamps.get(d))]
                versions = self._next_versions(m, version,
                                               live_dirs + [dirname])
                # evolved snapshot schema: previous + any appended columns
                prev_schema = m.get("schemas", {}).get(str(m["version"]))
                if prev_schema is None:
                    # pre-schema manifest (published before schema
                    # tracking existed): footer-infer the live
                    # snapshot's schema so columns present in older
                    # files but absent from this append survive the
                    # union, and the type-conflict guard covers them.
                    # mergeSchema because a legacy snapshot can span
                    # MULTIPLE dirs with heterogeneous file schemas
                    # (old narrow appends + a wide refresh) — a single
                    # footer could record a narrowed schema and drop
                    # columns from all future reads.  The every-footer
                    # cost is paid once per SNAPSHOT (cached across the
                    # CAS retries of this call, so N contending legacy
                    # writers do not re-read every footer per lost CAS);
                    # the publish records the merged schema and the path
                    # never runs again.
                    snap = tuple(self._snapshot_paths(table, m=m))
                    if legacy_schema_cache.get("paths") != snap:
                        legacy_schema_cache["paths"] = snap
                        legacy_schema_cache["schema"] = (
                            self.spark.read
                            .option("mergeSchema", "true")
                            .parquet(*snap).schema.json())
                    prev_schema = legacy_schema_cache["schema"]
                schemas = self._next_schemas(
                    m, version, self._union_schema(prev_schema, df))
                wins = self._next_windows(m, versions, dirname, window)
                tags = list(m.get("batch_tags", []))
                if batch_tag is not None:
                    tags.append(batch_tag)
                tags = self._bound_tags(tags)
                try:
                    self._publish_manifest(table, version, versions,
                                           expected_version=version - 1,
                                           promote=(stage, dirname),
                                           schemas=schemas, windows=wins,
                                           absorbed=m.get("absorbed"),
                                           batch_tags=tags or None,
                                           watermark=self._next_watermark(
                                               m, upper))
                except ManifestConflict:
                    continue
                self._gc_versions(table, versions,
                                  published_version=version)
                return
            raise ManifestConflict(
                f"{table}: append lost the manifest CAS 16 times")

    # --- micro-batch tag ledger (r18) ---------------------------------------
    # Exactly-once for streaming fact appends: each micro-batch's content
    # fingerprint is recorded with the data it produced (inside the
    # manifest — atomic with the pointer flip), and _write_append skips a
    # batch whose tag is already recorded.  Unbounded micro-batch windows
    # are refused as window stamps (see _run_fact_table), so without tags
    # a foreachBatch retry double-counted silently.

    # Tag retention bound (ADVICE r18): without one, every micro-batch
    # grew the ledger forever — manifest size and the per-append
    # membership scan linear in stream lifetime.  The ledger keeps the
    # newest BATCH_TAG_RETENTION tags (FIFO); the replay-protection
    # window is therefore the last N batches, which covers the real
    # replay sources — foreachBatch retries (always the current batch)
    # and checkpoint-lineage resets replaying the recent source tail.  A
    # fresh-checkpoint replay reaching further back than N committed
    # batches is outside the ledger's protection and needs a full
    # refresh, documented in StreamingPipeline.  At the default bound
    # the ledger costs ~100 KB of manifest and a trivial linear scan.
    BATCH_TAG_RETENTION = 4096

    def _bound_tags(self, tags: list) -> list:
        """Newest-N retention for the micro-batch tag ledger; tags are
        appended in commit order, so the slice drops the oldest."""
        return tags[-self.BATCH_TAG_RETENTION:]

    # --- watermarks --------------------------------------------------------

    def watermarks(self) -> dict:
        """Resume watermark per table, read from each table's manifest
        (the publish that committed the data recorded it)."""
        suffix = ".manifest.json"
        out = {}
        for name in sorted(os.listdir(self.storage)):
            if name.endswith(suffix):
                table = name[:-len(suffix)]
                wm = (self._read_manifest(table) or {}).get("watermark")
                if wm is not None:
                    out[table] = wm
        return out

    # --- execution ---------------------------------------------------------

    def _fact_partition_cols(self, fact: Fact) -> list[str]:
        return [fc.target_column for fc in fact.columns
                if isinstance(fc.type, TenantId)]

    def _with_fact_partitioning(self, fact: Fact, df: DataFrame
                                ) -> tuple[DataFrame, list[str]]:
        """(df with derived day column, partition column list) when
        partition_facts is on — shared by initial writes and compaction so
        re-writes never silently drop the directory layout."""
        if not self.partition_facts:
            return df, []
        s = self.env.settings
        partition_by = []
        for fc in fact.columns:
            if isinstance(fc.type, DimTime):
                from .extractor import time_unit_column_name

                tid = time_unit_column_name(
                    s.dim_table_id_column_name, fc.target_column, s.time_unit)
                day = f"{fc.target_column}_day"
                if day not in df.columns:
                    df = df.withColumn(
                        day, F.floor(F.col(tid) * s.time_unit.seconds / 86400))
                partition_by.append(day)
                break
        partition_by += self._fact_partition_cols(fact)
        return df, partition_by

    def run_fact(self, fact: Fact, mode: PopulationMode, time_upper,
                 time_lower=None, resume: bool = True,
                 batch_tag: str | None = None) -> str:
        """Populate one fact and every dimension it (recursively) needs;
        returns the extracted fact table name.

        Incremental runs with no explicit lower bound resume from the
        fact table's watermark (the previous run's upper bound, published
        in the same manifest flip as that run's rows); pass
        ``resume=False`` to process an unbounded window instead (the
        streaming pipeline does — its micro-batches are already bounded).

        ``batch_tag`` (streaming micro-batches): a content fingerprint of
        the batch; a tag already recorded for the fact table makes the
        append a no-op, so foreachBatch retries and checkpoint-lineage
        replays are exactly-once (see :meth:`_write_append`).  Dimension
        appends need no tag — their anti-join is replay-idempotent."""
        return self._run_facts([fact], mode, time_upper, time_lower,
                               resume, batch_tag)[0]

    def _run_facts(self, facts: list[Fact], mode: PopulationMode, upper,
                   lower, resume: bool, batch_tag: str | None = None
                   ) -> list[str]:
        """Build ``facts`` and every derived dimension they need: a
        dimension wave, then a fact wave (the DAG of ``dependencies.json``:
        a dimension reads only sources, a fact reads sources and
        dimensions, never another fact).  Each dimension is built once,
        by the first fact in declaration order that needs it, with that
        fact's resolved window.  Returns the fact table names."""
        from .extractor import extract_all_dimension_tables

        lowers = [self._resume_lower(f, mode, lower, resume) for f in facts]
        dims: dict[str, tuple] = {}
        for fact, lo in zip(facts, lowers):
            for dim_fact, dim_table in extract_all_dimension_tables(self.env,
                                                                    fact):
                # a pre-existing (DimId) table is not ours to build
                if self.env.find_table(dim_table.name) is None:
                    dims.setdefault(dim_table.name, (dim_fact, lo))
        self._run_wave([
            (name, partial(self._run_dimension, f, name, mode, upper, lo))
            for name, (f, lo) in dims.items()])
        return self._run_wave([
            (extract_fact_table(self.env, f).name,
             partial(self._run_fact_table, f, mode, upper, lo,
                     batch_tag=batch_tag))
            for f, lo in zip(facts, lowers)])

    def _resume_lower(self, fact: Fact, mode: PopulationMode, lower,
                      resume: bool):
        """The fact's window lower bound: ``lower`` as given, or for an
        incremental resume with none given, the watermark its manifest
        published with the previous run's rows."""
        if resume and mode == PopulationMode.INCREMENTAL and lower is None:
            m = self._read_manifest(extract_fact_table(self.env, fact).name)
            stored = m.get("watermark") if m else None
            if stored is not None:
                import datetime as _dt

                return _dt.datetime.fromisoformat(stored)
        return lower

    def _run_wave(self, tasks: list[tuple]) -> list:
        """Run independent ``(table, build)`` tasks side by side and return
        their results in order.  Most of a refresh's stages are one-task
        stages, so overlapping tables fills executor slots that per-job
        scheduling would leave idle.  Each task inherits the caller's
        local properties (job group, job tags, scheduler pool) and tags
        its own jobs ``ringo-table:<table>``.  The wave waits for every
        task before it re-raises the first error in task order, so no
        write is in flight once it returns or raises."""
        if not tasks:
            return []
        sc = self.spark.sparkContext

        def tagged(table, build):
            tag = f"ringo-table:{table}"

            def body():
                sc.addJobTag(tag)
                try:
                    return build()
                finally:
                    # pool threads are reused: a leftover tag would
                    # mislabel the next table's jobs
                    sc.removeJobTag(tag)
            # wrapped per task, in the calling thread: each task gets its
            # own copy of the caller's local properties
            return inheritable_thread_target(self.spark)(body)

        workers = min(len(tasks), sc.defaultParallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(tagged(t, b)) for t, b in tasks]
        failed = [(t, f.exception()) for (t, _), f in zip(tasks, futures)
                  if f.exception() is not None]
        for table, e in failed[1:]:
            log.warning("%s also failed in the same wave: %r", table, e)
        if failed:
            raise failed[0][1]
        return [f.result() for f in futures]

    def _run_dimension(self, fact: Fact, dim_table: str, mode: PopulationMode,
                       time_upper, time_lower) -> None:
        exists = self.table_exists(dim_table)
        if mode == PopulationMode.INCREMENTAL and exists:
            existing = self.read_table(dim_table)
            new_rows = dimension_population_df(
                self.env, fact, dim_table, self.sources,
                mode=PopulationMode.INCREMENTAL, time_upper=time_upper,
                time_lower=time_lower, existing_dim=existing)
            self._write_append(new_rows, dim_table, upper=time_upper)
        else:
            df = dimension_population_df(
                self.env, fact, dim_table, self.sources,
                mode=PopulationMode.FULL, time_upper=time_upper)
            self._write_full(df, dim_table, upper=time_upper)

    def _run_fact_table(self, fact: Fact, mode: PopulationMode,
                        time_upper, time_lower,
                        batch_tag: str | None = None) -> str:
        from .extractor import extract_all_dimension_tables

        derived = extract_fact_table(self.env, fact)
        dim_names = {t.name for _, t in extract_all_dimension_tables(self.env, fact)
                     if self.env.find_table(t.name) is None}
        dims = {name: self.read_table(name) for name in dim_names}
        df = fact_population_df(self.env, fact, self.sources, dims=dims,
                                mode=mode, time_upper=time_upper,
                                time_lower=time_lower,
                                count_distinct_mode=self.count_distinct_mode,
                                salt_tenant_buckets=self.salt_tenant_buckets)
        df, partition_by = self._with_fact_partitioning(fact, df)
        # A window stamp asserts "this dir carries exactly the source
        # rows in [lower, upper)" — meaningless without a FINITE upper.
        # Streaming micro-batches run unbounded (time_upper=None,
        # resume=False): their rows partition by ARRIVAL, not by any
        # time window, so stamping them (None, None) would make every
        # later micro-batch 'cover' — and silently replace — all
        # earlier ones (r12 review finding; pinned by the 3-batch
        # streaming-pipeline test).  Unbounded appends stay unstamped:
        # pure additive, never replaced, never replacing.
        window = (time_lower, time_upper) if time_upper is not None else None
        if mode == PopulationMode.INCREMENTAL and self.table_exists(derived.name):
            # window-stamped: a rerun of an already-committed window
            # REPLACES that window's dirs instead of double-counting
            # (see _write_append)
            self._write_append(df, derived.name, partition_by,
                               window=window, batch_tag=batch_tag,
                               upper=time_upper)
        else:
            self._write_full(df, derived.name, partition_by,
                             batch_tag=batch_tag, upper=time_upper)
        return derived.name

    def run(self, mode: PopulationMode = PopulationMode.FULL, time_upper=None,
            time_lower=None) -> list[str]:
        """Populate every persistent fact and the dimensions they need:
        the dimension wave, then the fact wave (see :meth:`_run_facts`)."""
        return self._run_facts([f for f in self.env.facts if f.persistent],
                               mode, time_upper, time_lower, resume=True)

    def compact_fact(self, fact: Fact) -> None:
        """Re-aggregate the persisted fact table to one row per grain key.

        Incremental appends (and streaming micro-batches) may write partial
        rows for the same grain; every measure is mergeable by design —
        counts/sums add, min/min, max/max, avg stays a (count,sum) pair,
        count-distinct sketches union (this is the reference's motive for
        storing partial-aggregate state, Extractor.hs:48-51 + §2.6)."""
        from .model import (
            FactAverage, FactCount, FactCountDistinct, FactMax, FactMin,
            FactSum,
        )

        s = self.env.settings
        derived = extract_fact_table(self.env, fact)
        # ONE manifest read anchors the whole compaction — the input
        # rows, the absorbed refuse-keys, and the publish's expected
        # version all come from the same snapshot.  A concurrent commit
        # between this read and the publish makes _write_full abort
        # (ManifestConflict) instead of publishing a snapshot missing
        # that commit's rows and window stamp (a silent CAS retry over
        # the advance would).
        m0 = self._read_manifest(derived.name)
        if m0 is None:
            raise FileNotFoundError(f"no manifest for table {derived.name!r}")
        df = self.read_table(derived.name, version=m0["version"])
        measure_aggs, measures = [], set()
        for fc in fact.columns:
            c, t = fc.target_column, fc.type
            if isinstance(t, (FactCount, FactSum)):
                measure_aggs.append(F.sum(c).alias(c))
                measures.add(c)
            elif isinstance(t, FactMax):
                measure_aggs.append(F.max(c).alias(c))
                measures.add(c)
            elif isinstance(t, FactMin):
                measure_aggs.append(F.min(c).alias(c))
                measures.add(c)
            elif isinstance(t, FactAverage):
                for suf in (s.avg_count_column_suffix, s.avg_sum_column_suffix):
                    measure_aggs.append(F.sum(c + suf).alias(c + suf))
                    measures.add(c + suf)
            elif isinstance(t, FactCountDistinct):
                if self.count_distinct_mode != "sketch":
                    raise ValueError(
                        "compaction of count-distinct requires sketch mode "
                        "(estimates are not mergeable)")
                measure_aggs.append(F.hll_union_agg(c).alias(c))
                measures.add(c)
        keys = [c for c in df.columns if c not in measures]
        out = df.groupBy(*keys).agg(*measure_aggs).select(*df.columns)
        # safe: _write_full materializes into a new version dir; the
        # input dirs stay untouched until GC after the pointer flip.
        # Re-applying the partitioning keeps the day/tenant directory
        # layout through compaction
        out, partition_by = self._with_fact_partitioning(fact, out)
        # compaction is NOT a full refresh: the windowed rows it merges
        # still exist in the output, so the same-window rerun protection
        # must survive it (r16 review — _write_full's default clears it,
        # silently re-enabling double-counting appends).  Every live
        # dir's stamp (plus previously absorbed ones) carries forward as
        # a refuse-key; the watermark carries forward too (no upper).
        live = self._manifest_versions(m0)[str(m0["version"])]
        stamps = m0.get("windows", {})
        absorbed = (list(m0.get("absorbed", []))
                    + [stamps[d] for d in live if stamps.get(d)])
        self._write_full(out, derived.name, partition_by,
                         absorbed=absorbed or None, preserve_windows=True,
                         expected_input_version=m0["version"])

    # --- JDBC sink (Postgres-sink parity, Main.hs:35-83) -------------------

    def published_tables(self) -> list[str]:
        """Names of every dim/fact table a full run materializes, in topo
        order (dims before the facts that reference them — FK-friendly
        load order for a relational sink)."""
        from .extractor import extract_all_dimension_tables

        names: list[str] = []
        for fact in self.env.facts:
            if not fact.persistent:
                continue
            derived = extract_fact_table(self.env, fact)
            for _, t in extract_all_dimension_tables(self.env, fact):
                if self.env.find_table(t.name) is None and t.name not in names:
                    names.append(t.name)
            if derived.name not in names:
                names.append(derived.name)
        return [n for n in names if self.table_exists(n)]

    def publish_jdbc(self, jdbc_url: str, tables: list[str] | None = None,
                     mode: str = "error", options: dict | None = None,
                     num_partitions: int | None = None) -> list[str]:
        """Publish populated dimension/fact tables to a JDBC sink.

        The reference's actual output target is Postgres — its generated
        DDL+DML runs inside the database (``app/Main.hs:35-83``); our
        engine's native storage is parquet, and this pushes the populated
        tables over JDBC for users migrating off the reference who keep a
        relational serving layer.

        Scale notes: Spark opens one connection per partition, so
        ``num_partitions`` caps write parallelism at what the target can
        absorb (rollup facts are small relative to their sources — the
        100 TB corpus never transits JDBC, only the aggregated marts).
        The default ``mode="error"`` refuses to touch an existing target
        table: publishing to a serving database is outward-facing, and a
        silent default overwrite would drop its indexes and grants
        (ADVICE r05).  Refresh flows opt in explicitly —
        ``mode="overwrite"`` with ``truncate=true`` in ``options`` keeps
        the target's DDL/grants; plain overwrite re-creates the table;
        ``mode="append"`` for additive loads."""
        out = []
        for name in (tables if tables is not None else self.published_tables()):
            df = self.read_table(name)
            if num_partitions:
                df = df.coalesce(num_partitions)
            w = (df.write.format("jdbc")
                 .option("url", jdbc_url).option("dbtable", name).mode(mode))
            for k, v in (options or {}).items():
                w = w.option(k, v)
            w.save()
            out.append(name)
        return out

    # --- artifacts (writeFiles parity, Main.hs:35-83) ----------------------

    def write_artifacts(self, out_dir: str, dialect: str = "spark") -> None:
        write_artifacts(self.env, out_dir, dialect)


def write_artifacts(env: Env, out_dir: str, dialect: str = "spark") -> None:
    """Emit the reference's orchestration artifacts (Main.hs:35-83):
    dependencies/dimensions/facts JSON + create/fullrefresh/increfresh SQL.
    Spark-free — artifact-only CLI runs need no session."""
    s = env.settings
    os.makedirs(out_dir, exist_ok=True)

    deps: dict[str, list[str]] = {}
    for fact in env.facts:
        deps.update(extract_dependencies(env, fact))
    with open(os.path.join(out_dir, s.dependencies_json_file_name), "w") as fh:
        json.dump(deps, fh, indent=2, sort_keys=True)

    dim_tables = [(f, extract_dimension_tables(env, f)) for f in env.facts]
    derived_dims = [t.name for _, tabs in dim_tables for t in tabs
                    if env.find_table(t.name) is None]
    with open(os.path.join(out_dir, s.dimension_json_file_name), "w") as fh:
        json.dump(derived_dims, fh, indent=2)

    fact_tables = [(f, extract_fact_table(env, f))
                   for f in env.facts if f.persistent]
    with open(os.path.join(out_dir, s.facts_json_file_name), "w") as fh:
        json.dump([t.name for _, t in fact_tables], fh, indent=2)

    for sub in ("create", "fullrefresh", "increfresh"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)

    def write(sub: str, table: str, text: str) -> None:
        with open(os.path.join(out_dir, sub, table + ".sql"), "w") as fh:
            fh.write(text)

    for fact, tabs in dim_tables:
        for t in tabs:
            if env.find_table(t.name) is not None:
                continue
            write("create", t.name,
                  sqlgen.dimension_table_defn_sql(env, t, dialect))
            write("fullrefresh", t.name, sqlgen.dimension_table_populate_sql(
                env, fact, t.name, PopulationMode.FULL, dialect))
            write("increfresh", t.name, sqlgen.dimension_table_populate_sql(
                env, fact, t.name, PopulationMode.INCREMENTAL, dialect))
    for fact, table in fact_tables:
        write("create", table.name,
              sqlgen.fact_table_defn_sql(env, fact, dialect))
        write("fullrefresh", table.name,
              sqlgen.fact_table_populate_sql(env, fact, PopulationMode.FULL,
                                             dialect))
        write("increfresh", table.name,
              sqlgen.fact_table_populate_sql(env, fact,
                                             PopulationMode.INCREMENTAL,
                                             dialect))
