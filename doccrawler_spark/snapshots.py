"""SnapshotCatalog — numbered, atomically-published table snapshots.

Iceberg-shaped semantics behind a small interface (SURVEY.md §7): on a
real cluster this is Iceberg snapshot commits (config-only swap); in
the sandbox (no Iceberg runtime jar, no network) the offline backend is
Parquet directories published by an atomic manifest rename.  Both give:

* numbered snapshots per table (``round`` k → immutable directory),
* two data producers, one commit: a DataFrame is written by Spark, and
  rows the driver already holds (a ``pyarrow.Table``) are written by
  pyarrow as one file with no Spark job; both then publish through the
  same manifest,
* atomic publish (data into a fresh directory → fsync manifest →
  ``os.replace``; the replace is the one commit point),
* time-travel (read table as of round k),
* resume: ``latest_round()`` = max committed manifest, so a crawl
  killed mid-round restarts from the last published round with no
  partial state visible (reference has no such recovery — the asyncio
  queue dies with the process; this is the north_rule checkpoint
  requirement).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Any, NamedTuple


def _write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON: write a unique
    sibling, fsync it, then ``os.replace``.  Every catalog file commits
    through here (manifests, driver state, seen-append manifests,
    stream markers, tombstones), so a crash leaves the old file or the
    new one, never a torn one, and a fault injected here is a crash at
    the commit point."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# a snapshot data directory: r<round>, then .<uuid> for every write
_DATA_DIR_RE = re.compile(r"r(\d{5})(\.[0-9a-f]+)?")


def _newest_mtime(path: str) -> float:
    """Newest mtime of ``path`` and everything under it: a write still
    in progress keeps touching its files, so it always looks young."""
    t = os.lstat(path).st_mtime
    for dp, dns, fns in os.walk(path):
        for n in dns + fns:
            try:
                t = max(t, os.lstat(os.path.join(dp, n)).st_mtime)
            except OSError:
                pass
    return t


def _read_snapshot(spark, m: dict):
    """Read a committed snapshot at the path and with the schema its
    manifest ``m`` records — no footer-inference job."""
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(json.loads(m["schema"]))).parquet(m["path"])


def _leaf_index(metadata, column: str) -> int:
    """Index of the column chunk of top-level primitive ``column`` in a
    parquet file's row groups, -1 when absent.  The arrow field index
    differs from it once a nested column comes first."""
    schema = metadata.schema
    for i in range(len(schema)):
        if schema.column(i).path == column:
            return i
    return -1


class ColumnStats(NamedTuple):
    """One column's footer statistics over a snapshot's files."""

    rows: int
    non_null: int
    min: Any
    max: Any


class SnapshotCatalog:
    """Per-crawl catalog rooted at one directory.

    Layout::

        root/
          <table>/r00003.<uuid>/part-*.parquet   # data: Spark's files, or
                                                 # one pyarrow file
          <table>/_r00003.manifest.json          # atomic commit marker:
                                                 # path + Spark schema
          _crawl_state/r00003.json               # driver-side loop state
    """

    def __init__(self, root: str) -> None:
        self.root = root

    # ---------------------------------------------------------- paths
    def data_dir(self, table: str, round_: int) -> str:
        """The stem of round ``round_``'s data directories; each write
        adds a ``.<uuid>`` suffix (:meth:`write`)."""
        return os.path.join(self.root, table, f"r{round_:05d}")

    def _manifest_path(self, table: str, round_: int) -> str:
        return os.path.join(self.root, table, f"_r{round_:05d}.manifest.json")

    def manifest(self, table: str, round_: int) -> dict | None:
        """The committed manifest of a snapshot, None if uncommitted."""
        try:
            with open(self._manifest_path(table, round_)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _committed(self, table: str, round_: int) -> dict:
        m = self.manifest(table, round_)
        if m is None:
            raise FileNotFoundError(
                f"no committed snapshot for table {table!r} at round {round_}")
        return m

    def data_path(self, table: str, round_: int) -> str:
        """The snapshot's COMMITTED data directory, as its manifest
        records it.  Readers must resolve through this, never
        ``data_dir``."""
        return self._committed(table, round_)["path"]

    def files(self, table: str, round_: int) -> list[str]:
        """The committed snapshot's data files, in name order (a flat
        snapshot's; a ``partition_by`` layout keeps them deeper)."""
        d = self.data_path(table, round_)
        return [os.path.join(d, n) for n in sorted(os.listdir(d))
                if n.endswith(".parquet")]

    # ---------------------------------------------------------- write
    def write(self, data, table: str, round_: int, partition_by: list[str] | None = None,
              meta: dict | None = None) -> None:
        """Write a snapshot and atomically publish its manifest.

        ``data`` is a DataFrame, written by Spark, or a
        ``pyarrow.Table`` of rows the driver already holds, written by
        pyarrow as one part file with no Spark job (typed from the
        Spark schema its readers expect, e.g. by
        :func:`shuffle.arrow_table`).  Either way the manifest records
        the Spark schema, and everything after the data write is the
        same.

        Every write, a round's first included, lands in a fresh
        ``r<round>.<uuid>`` directory, and the manifest replace is the
        only commit point.  A crash anywhere before it leaves the
        previously committed snapshot (or none) readable and the new
        directory unreferenced, for :meth:`vacuum_superseded` to
        reclaim; concurrent writers of one snapshot never share a
        directory, and the last manifest replace wins.  The superseded
        directory is TOMBSTONED, not deleted, so a reader that resolved
        it just before the swap finishes its scan (reclaimed once older
        than :data:`SUPERSEDED_GRACE_S`).

        ``partition_by`` writes a Hive-partitioned layout (the ANN
        index layouts); such a snapshot gets no stream view, which
        holds flat file sets only.  ``meta`` is stored in the manifest
        as given."""
        import pyarrow as pa

        path = f"{self.data_dir(table, round_)}.{uuid.uuid4().hex[:8]}"
        if isinstance(data, pa.Table):
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            if partition_by:
                raise ValueError("an Arrow commit writes a flat snapshot")
            os.makedirs(path)
            pq.write_table(data, os.path.join(
                path, f"part-00000-{uuid.uuid4().hex}.parquet"))
            schema = from_arrow_schema(data.schema).json()
        else:
            w = data.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            schema = data.schema.json()
        prev = self.manifest(table, round_)
        # the schema rides in the manifest (as Iceberg table metadata
        # carries it), so readers skip Spark's one-task footer-inference
        # job per snapshot read
        _write_json(self._manifest_path(table, round_), {
            "table": table, "round": round_, "path": path,
            "partition_by": partition_by or [], "schema": schema,
            "meta": meta or {}, "committed_at": time.time(),
            "snapshot_id": str(uuid.uuid4()),
        })
        if not partition_by:
            self._publish_stream_entry(table, round_)
        if prev is not None:
            # deferred deletion (the Iceberg expire-snapshots pattern)
            self._tombstone(prev["path"])
        self.vacuum_superseded()

    # superseded-snapshot grace window: longer than any reasonable
    # single-snapshot scan, short enough that a long crawl's rewrite
    # garbage stays bounded to the last few minutes' worth
    SUPERSEDED_GRACE_S = 600.0

    def _tombstone(self, path: str) -> None:
        _write_json(os.path.join(self.root, "_trash", uuid.uuid4().hex + ".json"),
                    {"path": path, "ts": time.time()})

    def vacuum_superseded(self, grace_s: float | None = None) -> int:
        """Reclaim snapshot directories no reader can still need, once
        older than ``grace_s`` (default :data:`SUPERSEDED_GRACE_S`);
        returns the number reclaimed.  Two kinds:

        * superseded directories, aged by their tombstone;
        * ``<table>/r*`` directories that no manifest names and no
          tombstone holds, aged by their newest file: the leftovers of
          a write that crashed before its commit, or of a concurrent
          writer whose manifest lost the race (the Iceberg
          remove-orphan-files pattern).

        Pass 0 to force (tests, final cleanup — only safe when no
        concurrent reader or writer is active)."""
        import shutil

        if grace_s is None:
            grace_s = self.SUPERSEDED_GRACE_S
        now, n = time.time(), 0
        root_real = os.path.realpath(self.root)
        held: set[str] = set()
        d = os.path.join(self.root, "_trash")
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if not name.endswith(".json"):
                continue
            p = os.path.join(d, name)
            try:
                with open(p) as f:
                    t = json.load(f)
                victim = os.path.realpath(t["path"])
                if now - float(t["ts"]) < grace_s:
                    held.add(victim)
                    continue
                # never follow a tombstone outside this catalog
                if victim.startswith(root_real + os.sep):
                    shutil.rmtree(victim, ignore_errors=True)
                os.unlink(p)
                n += 1
            except (OSError, ValueError, KeyError):
                continue
        for table in os.listdir(self.root) if os.path.isdir(self.root) else []:
            tdir = os.path.join(self.root, table)
            if table.startswith("_") or table == "stream" or not os.path.isdir(tdir):
                continue
            names = os.listdir(tdir)
            dirs: dict[int, list[str]] = {}
            for name in names:
                m = _DATA_DIR_RE.fullmatch(name)
                if m:
                    dirs.setdefault(int(m.group(1)), []).append(name)
            for r, found in dirs.items():
                committed = f"_r{r:05d}.manifest.json" in names
                if committed and len(found) == 1:
                    continue  # the one directory its manifest names
                live = os.path.basename(self.data_path(table, r)) if committed else None
                for name in found:
                    p = os.path.join(tdir, name)
                    if name == live or os.path.realpath(p) in held:
                        continue
                    try:
                        if grace_s > 0 and now - _newest_mtime(p) < grace_s:
                            continue
                    except OSError:
                        continue
                    shutil.rmtree(p, ignore_errors=True)
                    n += 1
        return n

    # streaming-safe view: <root>/stream/<table>/rNNNNN/ holds a copy
    # of each COMMITTED round's data files, published ONLY AFTER the
    # manifest commit, so a file stream tailing the stream dir can
    # never observe a torn/uncommitted round (the raw <table>/r* dirs
    # may briefly hold junk a crash left behind).  Object-store-safe
    # by construction (r4, replacing a symlink mechanism that cannot
    # exist on S3/GCS): the publish primitive is "make the committed,
    # immutable bytes visible under the stream prefix" — a server-side
    # CopyObject on an object store, optimized to a zero-byte hard
    # link on POSIX.  Every published file is final and immutable, so
    # a crash mid-publish at worst leaves a round partially listed;
    # the next publish/stream_dir call completes it idempotently
    # (per-file existence check), and a file stream just picks the
    # stragglers up in a later micro-batch — append-exactly-once
    # either way, unlike the overwrite-retried raw round dirs.
    def _stream_table_dir(self, table: str) -> str:
        return os.path.join(self.root, "stream", table)

    def _publish_stream_entry(self, table: str, round_: int) -> None:
        """Make round ``round_`` visible under the stream prefix,
        append-EXACTLY-ONCE for file streams.

        A round's first complete publication is sealed with a
        ``_published.json`` marker (its file list) and is IMMUTABLE
        from then on: a later rewrite of the committed round
        (:meth:`compact`) must NOT re-publish, because Spark's
        FileStreamSource tracks files by path — renamed content-equal
        files would be delivered as new rows (duplicates) and unlinking
        listed-but-unread old files fails the micro-batch.  The sealed
        entry's hard links/copies keep the ORIGINAL committed bytes
        alive after the raw dir is rewritten; same rows either way.

        Healing stays: a publish that crashed mid-copy left no marker —
        it is completed per-file and then sealed.  A sealed entry that
        LOST files (external damage) is restored from the marker list
        when the source still has those names, else rebuilt from the
        current snapshot (re-delivery possible only in that
        damaged-entry corner, where re-delivery beats data loss)."""
        import shutil

        src = self.data_path(table, round_)
        dst = os.path.join(self._stream_table_dir(table), f"r{round_:05d}")
        os.makedirs(dst, exist_ok=True)
        marker = os.path.join(dst, "_published.json")
        src_names = {n for n in os.listdir(src) if n.endswith(".parquet")}

        published: set[str] | None = None
        if os.path.exists(marker):
            try:
                with open(marker) as f:
                    published = set(json.load(f)["files"])
            except (OSError, ValueError, KeyError):
                published = None  # torn marker: treat as unsealed
        if published is not None:
            have = {n for n in os.listdir(dst) if n.endswith(".parquet")}
            if published <= have:
                return  # sealed + intact: the normal rewrite no-op
            if not (published <= src_names):
                # damaged AND the original names are gone (snapshot was
                # rewritten since): rebuild from the current snapshot
                for name in have - src_names:
                    try:
                        os.unlink(os.path.join(dst, name))
                    except OSError:
                        pass
                published = None
        names = published if published is not None else src_names
        if published is None:
            # never sealed: a partial publication superseded by a
            # rewrite may have left old-generation names — drop them so
            # the sealed entry is one coherent file set
            for name in os.listdir(dst):
                if name.endswith(".parquet") and name not in names:
                    try:
                        os.unlink(os.path.join(dst, name))
                    except OSError:
                        pass

        for name in sorted(names):
            t = os.path.join(dst, name)
            if os.path.exists(t):
                continue
            try:
                os.link(os.path.join(src, name), t)  # POSIX: zero-copy
            except OSError:
                # cross-device / FS without hard links: real copy, made
                # visible atomically under its final name (the PUT-like
                # path an object store takes natively)
                tmp = t + f".tmp.{os.getpid()}"
                shutil.copyfile(os.path.join(src, name), tmp)
                os.replace(tmp, t)
        # seal AFTER every file is in place (crash before this line =
        # unsealed entry, healed idempotently on the next publish)
        _write_json(marker, {"files": sorted(names)})

    def stream_dir(self, table: str) -> str:
        """Directory whose ``r*`` children are EXACTLY the committed
        rounds of ``table`` (heals a publish interrupted mid-copy or
        before it began) — the safe source for readStream."""
        for r in self.committed_rounds(table):
            self._publish_stream_entry(table, r)
        return self._stream_table_dir(table)

    # ----------------------------------------------------------- read
    def committed_rounds(self, table: str) -> list[int]:
        d = os.path.join(self.root, table)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("_r") and name.endswith(".manifest.json"):
                out.append(int(name[2:7]))
        return sorted(out)

    def latest_round(self, table: str) -> int | None:
        rounds = self.committed_rounds(table)
        return rounds[-1] if rounds else None

    def read(self, spark, table: str, round_: int | None = None):
        """Read a table snapshot (latest when ``round_`` is None) with
        the schema its manifest records — no Spark job."""
        if round_ is None:
            round_ = self.latest_round(table)
        if round_ is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        return _read_snapshot(spark, self._committed(table, round_))

    def read_arrow(self, table: str, round_: int, columns: list[str] | None = None,
                   filter=None):
        """Read a committed flat snapshot driver-side as a
        ``pyarrow.Table`` typed from its manifest's Spark schema — no
        Spark job.  For snapshots bounded by a driver-side gate (a
        point-lookup round's frontier and crawled urls, the robots rows
        of a cut's hosts); ``filter`` is a pyarrow expression, pushed
        down to the row groups."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        m = self._committed(table, round_)
        schema = to_arrow_schema(StructType.fromJson(json.loads(m["schema"])))
        if columns is not None:
            schema = pa.schema([schema.field(c) for c in columns])
        t = pq.read_table(self.files(table, round_), columns=schema.names,
                          filters=filter)
        return t.select(schema.names).cast(schema)

    def exists(self, table: str, round_: int) -> bool:
        return os.path.exists(self._manifest_path(table, round_))

    def read_upto(self, spark, table: str, max_round: int):
        """Read the latest snapshot committed at or before ``max_round``
        (resume safety: a partially-committed later round stays
        invisible)."""
        rounds = [r for r in self.committed_rounds(table) if r <= max_round]
        if not rounds:
            raise FileNotFoundError(
                f"no snapshot for table {table!r} at or before round {max_round}"
            )
        return self.read(spark, table, rounds[-1])

    def _row_groups(self, table: str, round_: int, column: str | None):
        """Yield ``(rows, non_null, min, max)`` of top-level primitive
        ``column`` for every row group of the snapshot's files, from
        the footer statistics — no Spark job.  A row group without
        them has that one column read driver-side, so every figure is
        exact; a file without the column (or ``column`` None) yields
        its rows as NULLs."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for path in self.files(table, round_):
            f = pq.ParquetFile(path)
            ci = _leaf_index(f.metadata, column) if column else -1
            for g in range(f.metadata.num_row_groups):
                rg = f.metadata.row_group(g)
                n = rg.num_rows
                s = rg.column(ci).statistics if ci >= 0 else None
                if ci < 0 or (s is not None and s.has_null_count
                              and s.null_count == n):
                    yield n, 0, None, None
                elif s is not None and s.has_null_count and s.has_min_max:
                    yield n, n - s.null_count, s.min, s.max
                else:
                    col = f.read_row_group(g, columns=[column])[column]
                    mm = pc.min_max(col)
                    yield n, n - col.null_count, mm["min"].as_py(), mm["max"].as_py()

    def count(self, table: str, round_: int) -> int:
        """Exact row count from the snapshot's parquet footers (Iceberg
        equivalent: snapshot summary record counts)."""
        return sum(n for n, *_ in self._row_groups(table, round_, None))

    def stats(self, table: str, round_: int, column: str) -> ColumnStats:
        """Rows, non-null count, min and max of top-level primitive
        ``column`` over the snapshot, from its footers (Iceberg
        equivalent: manifest column metrics).  ``min``/``max`` are None
        only when the column is absent or holds no value."""
        rows = non_null = 0
        lo = hi = None
        for n, nn, mn, mx in self._row_groups(table, round_, column):
            rows, non_null = rows + n, non_null + nn
            if mn is not None:
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        return ColumnStats(rows, non_null, lo, hi)

    # ---------------------------------------------------- maintenance
    def compact(self, spark, table: str, rounds: list[int] | None = None,
                target_bytes_per_file: int = 256 << 20,
                min_files: int = 2,
                max_concurrent: int = 8) -> dict[int, tuple[int, int]]:
        """Rewrite committed snapshots of ``table`` into few right-sized
        files — the small-file maintenance op for crawl outputs (the
        Iceberg ``rewrite_data_files`` analogue, like ``compact_index``
        for the ANN layouts).  A crawl writes shuffle-partition-many
        files per round; over hundreds of rounds ``crawled_all`` reads
        thousands of tiny files whose open/footer cost dominates the
        scan.  Each round is rewritten through :meth:`write`, so the
        swap is ATOMIC (fresh uuid dir + manifest replace; a crash
        leaves the old snapshot readable) and the sealed stream view
        keeps the rows it first published.

        Per-round file targets come from on-disk BYTE size (stat, no
        Spark job for the planning pass) — bytes, not rows, because a
        row's width varies 1000× between a URL-frontier row and a
        full-text document row: a row-count target would coalesce a
        fat round into one multi-GB file, a single-task write
        straggler (reads would survive — parquet splits by row group —
        but the rewrite wouldn't).  Rounds already at or below the
        target, below ``min_files``, or written with a
        ``partition_by`` layout (none of the crawl tables today) are
        left untouched.  Returns {round: (files_before, files_after)}
        for the rounds rewritten.

        Rounds are rewritten CONCURRENTLY (``max_concurrent`` driver
        threads — rounds are disjoint dirs + disjoint manifests, and
        Spark job submission is thread-safe): each rewrite is a tiny
        job whose fixed scheduling latency would otherwise be paid
        rounds-many times in sequence, which measured 30–42 s for a
        ~10-round 240k-page crawl at local[32]."""
        # (round, manifest, files before, files after)
        plan: list[tuple[int, dict, int, int]] = []
        for r in (rounds if rounds is not None
                  else self.committed_rounds(table)):
            m = self.manifest(table, r)
            if m is None or m["partition_by"]:
                continue
            d = m["path"]
            before = [n for n in os.listdir(d) if n.endswith(".parquet")]
            if len(before) < max(2, min_files):
                continue
            n_bytes = sum(os.path.getsize(os.path.join(d, n))
                          for n in before)
            n_files = max(1, -(-n_bytes // max(1, target_bytes_per_file)))
            if n_files >= len(before):
                continue
            plan.append((r, m, len(before), n_files))
        if not plan:
            return {}

        def _one(item):
            r, m, n_before, n_files = item
            self.write(_read_snapshot(spark, m).coalesce(n_files), table, r)
            after = [n for n in os.listdir(self.data_path(table, r))
                     if n.endswith(".parquet")]
            return r, (n_before, len(after))

        if len(plan) == 1 or max_concurrent <= 1:
            return dict(_one(item) for item in plan)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(max_concurrent, len(plan))) as ex:
            return dict(ex.map(_one, plan))

    # ------------------------------------- bucketed seen-set table
    #
    # Cluster-scale F8 backend: ONE hash-bucketed parquet table of seen
    # urls, appended per round, so the seen-set side of the dedup
    # anti-join NEVER shuffles (SortMergeJoin reads the buckets in
    # place; only the small per-round candidate side exchanges).  This
    # is the vanilla-Spark emulation of an Iceberg bucket-transform
    # table; atomicity comes from the same manifest protocol as
    # snapshots: each append records the exact files it added, and
    # files not named by any committed manifest are vacuumed on open
    # (exactly what Iceberg manifests do for torn commits).

    def _seen_dir(self) -> str:
        return os.path.join(self.root, "_seen_bucketed")

    def seen_table_name(self) -> str:
        import hashlib

        h = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:12]
        return f"doccrawler_seen_{h}"

    def _seen_append_manifest(self, round_: int) -> str:
        return os.path.join(
            self.root, "_seen_manifests", f"r{round_:05d}.json"
        )

    def seen_appended_rounds(self) -> list[int]:
        d = os.path.join(self.root, "_seen_manifests")
        if not os.path.isdir(d):
            return []
        return sorted(
            int(n[1:6]) for n in os.listdir(d)
            if n.startswith("r") and n.endswith(".json")
        )

    def _seen_ensure_registered(self, spark, n_buckets: int) -> str:
        d = self._seen_dir()
        os.makedirs(d, exist_ok=True)
        name = self.seen_table_name()
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} (url STRING) USING PARQUET "
            f"CLUSTERED BY (url) INTO {n_buckets} BUCKETS LOCATION '{d}'"
        )
        return name

    def seen_vacuum(self, spark, n_buckets: int) -> list[str]:
        """Remove data files not named by any committed append manifest
        (orphans of a crashed mid-append round); returns removed names."""
        import json as _json

        name = self._seen_ensure_registered(spark, n_buckets)
        committed: set[str] = set()
        for r in self.seen_appended_rounds():
            with open(self._seen_append_manifest(r)) as f:
                committed.update(_json.load(f)["files"])
        removed = []
        for fn in os.listdir(self._seen_dir()):
            if fn.startswith("part-") and fn not in committed:
                os.remove(os.path.join(self._seen_dir(), fn))
                removed.append(fn)
        if removed:
            spark.sql(f"REFRESH TABLE {name}")
        return removed

    def seen_append(self, spark, urls_df, round_: int, n_buckets: int) -> None:
        """Append one round's url delta to the bucketed seen table;
        idempotent per round (a committed manifest short-circuits)."""
        if os.path.exists(self._seen_append_manifest(round_)):
            return
        name = self._seen_ensure_registered(spark, n_buckets)
        before = {
            fn for fn in os.listdir(self._seen_dir()) if fn.startswith("part-")
        }
        # hash-partitioning to the bucket count first uses the bucket
        # id's own function (Murmur3 pmod), so each task holds exactly
        # one bucket and writes one file — not one per bucket per task
        (
            urls_df.select("url").repartition(n_buckets, "url")
            .write.mode("append").format("parquet")
            .bucketBy(n_buckets, "url").option("path", self._seen_dir())
            .saveAsTable(name)
        )
        added = sorted(
            fn for fn in os.listdir(self._seen_dir())
            if fn.startswith("part-") and fn not in before
        )
        _write_json(self._seen_append_manifest(round_),
                    {"round": round_, "files": added})

    def seen_table(self, spark, n_buckets: int):
        """The bucketed seen table as a DataFrame (vacuumed: only
        committed appends are visible)."""
        name = self._seen_ensure_registered(spark, n_buckets)
        self.seen_vacuum(spark, n_buckets)
        return spark.table(name)

    # ------------------------------------------------- driver state
    def write_state(self, round_: int, state: dict) -> None:
        _write_json(os.path.join(self.root, "_crawl_state", f"r{round_:05d}.json"), state)

    def latest_state(self) -> tuple[int, dict] | None:
        d = os.path.join(self.root, "_crawl_state")
        if not os.path.isdir(d):
            return None
        rounds = sorted(
            int(n[1:6]) for n in os.listdir(d)
            if n.startswith("r") and n.endswith(".json")
        )
        if not rounds:
            return None
        r = rounds[-1]
        with open(os.path.join(d, f"r{r:05d}.json")) as f:
            return r, json.load(f)
