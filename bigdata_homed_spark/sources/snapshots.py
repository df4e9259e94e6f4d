"""Manifest-pinned snapshot tables: atomic commits, time travel, safe
compaction.

The reference refreshed report tables with drop/rename swaps (e.g. the
MysqlToHive overwrite cycle, `etl/MysqlToHive.scala:52-54`) — readers see a
window where the table is missing, and no historical version survives.  The
lakehouse answer (Delta/Iceberg/Hudi) pins every read to a MANIFEST — a
small JSON file naming the version's exact data-file set — so:

- **atomic commit**: data files land first (immutable, uniquely named);
  the commit point is one ``os.link`` of the staged manifest to its version
  name — readers see the old version or the new one, never a torn mix.
  The link fails if that version exists, so of two writers that prepared
  the same version one publishes and the other gets ``CommitConflictError``
  (put-if-absent), never a silent overwrite.  A crash before the link
  leaves orphan data files but a fully consistent table.
- **time travel**: old manifests are never touched; ``read(version=N)``
  reconstructs any committed state exactly.
- **safe compaction**: ``commit_rewrite`` publishes the same rows as new
  files in a new manifest; in-flight readers of version N keep their file
  list and are undisturbed (contrast ``compact_small_files``'s rename swap,
  which this supersedes for tables that opt in).

Scale: the manifest holds file PATHS plus per-file metadata — at 100 TB
that is O(files), kilobytes per commit, and readers schedule exactly the
listed files (no directory listing, no eventual-consistency hazards on
object stores).  Each entry can carry two tiers of skipping metadata:

- ``"partitions"``: Hive partition values (``commit_* (partition_by=...)``)
  — partition pruning drops entries before any file is touched;
- ``"stats"``: per-file min/max zone maps lifted from the parquet FOOTERS
  at commit time (metadata reads, never a second data pass).  One
  ordering, ``_stat_key``, folds and compares every zone-map value: numbers
  numerically with NaN greatest (Spark's order), decimals as numbers
  rounded outward, dates/timestamps/strings by their native-order string
  form.  ``timestamp`` columns (parquet INT96) have no footer stats and so
  no zone map; ``timestamp_ntz`` columns have one.

**Merge-on-read deletion vectors** (Iceberg v2 positional deletes / Delta
deletion vectors): ``commit_delete`` and ``commit_merge_on_read`` never
rewrite a data file — they record the (file, row position) pairs of dead
rows in small DV parquet files listed in the manifest's ``delete_files``,
and readers subtract them with a broadcast anti-join on Spark's
``_metadata.file_path``/``_metadata.row_index`` scan columns.  Write
amplification drops from O(hit-file bytes) to O(deleted rows); the next
``commit_rewrite`` (OPTIMIZE) folds the DVs back in and publishes a clean
file set.  Positions are stable because data files are immutable.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import math
import os
import shutil
import uuid
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession


def _stat_key(v):
    """Sort key of a zone-map value or a pruning bound — the ONE ordering
    every stat fold and every pruning comparison uses.  Numbers (int,
    float, Decimal) compare numerically with NaN greatest, above +inf, as
    Spark orders them (a join matches NaN = NaN, so a NaN key must widen a
    range, never vanish from it); dates, timestamps and strings compare by
    their ``str()`` form, which is how they are stored and sorts in
    native order."""
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return (1, 0) if isinstance(v, float) and math.isnan(v) else (0, v)
    return (0, str(v))


def _footer_zone_map(md, i: int, scale: int | None):
    """[min, max] of column ``i`` over every row group of a parquet footer
    under ``_stat_key``, or None when some row group carries no min/max
    (the footer can't vouch: all-null chunks, INT96 timestamps) or no row
    group exists (an empty file).  A decimal column (``scale`` given)
    comes back as exact ``Decimal``s: one stored as INT32/INT64 is read
    from its unscaled raw stats (pyarrow cannot convert those), a
    FIXED_LEN_BYTE_ARRAY one converts directly.  Byte strings decode, so
    they order as the strings they hold."""
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(i).statistics
        if st is None or not st.has_min_max:
            return None
        if scale is not None and st.physical_type != "FIXED_LEN_BYTE_ARRAY":
            mn, mx = (Decimal(r).scaleb(-scale) for r in (st.min_raw, st.max_raw))
        else:
            mn, mx = (
                v.decode("utf-8", "replace") if isinstance(v, bytes) else v
                for v in (st.min, st.max)
            )
        lo = mn if lo is None else min(lo, mn, key=_stat_key)
        hi = mx if hi is None else max(hi, mx, key=_stat_key)
    return None if lo is None else (lo, hi)


def _render_stat(v, toward: float):
    """A folded stat as a JSON-native zone-map value.  A decimal becomes
    the nearest float, stepped one ulp ``toward`` -inf (a min) or +inf (a
    max) when rounding moved it inward — a zone map only has to be a
    superset, and a tightened bound would skip a probe sitting exactly on
    it.  Dates and timestamps become their ``str()`` form."""
    if isinstance(v, Decimal):
        f = float(v)
        inward = f > v if toward < 0 else f < v
        return math.nextafter(f, toward) if inward else f
    if isinstance(v, datetime.date):
        return str(v)
    return v


def _unescape_path_name(s: str) -> str:
    """Decode Hive path-escaping (``%XX`` hex sequences) from a partition
    directory value — the inverse of what Spark's writer applies to
    characters illegal in path segments (space, ``:``, ``%``, ``=`` ...).
    Manifest entries must record the RAW value: every consumer
    (``pruned_entries`` probes, ``commit_merge``'s partition-key fast
    path) compares against raw user values, and an escaped stored value
    would silently never match — a carried file plus appended updates,
    i.e. duplicate live rows for the same key.  Spark escapes every
    literal ``%`` as ``%25``, so for Spark-written directories
    ``urllib.parse.unquote`` is exactly Hive's unescapePathName."""
    if "%" not in s:
        return s
    from urllib.parse import unquote

    return unquote(s)


class CommitConflictError(RuntimeError):
    """Another writer advanced the table past the version this commit was
    prepared against (optimistic concurrency, Delta-style): re-read, re-derive,
    retry."""


class ConstraintViolationError(ValueError):
    """An incoming batch contains rows for which a table CHECK constraint
    evaluates to FALSE (SQL semantics: NULL passes).  The commit is
    refused whole — nothing was published."""


class SnapshotTable:
    """A parquet table whose committed state is defined by version manifests.

    Layout::

        <path>/data/<uuid>.parquet        immutable data files
        <path>/_manifests/v<N>.json       {"version": N, "files": [...]}
        <path>/_manifests/v<N>.json.<uuid>.tmp
                                          staged, hard-linked to v<N>.json
                                          if no v<N>.json exists, unlinked
    """

    # every Nth version stores the FULL file list (a checkpoint); versions
    # in between store only adds/removes vs their parent — the per-commit
    # manifest write is O(files changed), not O(files in table), which is
    # the difference between a metadata kilobyte and a multi-hundred-MB
    # JSON on a real 100 TB table (Delta's checkpoint/delta-log split)
    CHECKPOINT_EVERY = 8

    def __init__(self, path: str):
        # absolute-normalized: manifest entries store absolute paths, and
        # commit_merge/_attach_stats match them against input_file_name()
        # (always absolute) — a relative table path would silently match
        # nothing (dup keys on merge, stats dropped)
        # reconstructed-manifest cache: manifests are immutable once
        # written (vacuum only deletes them, or re-materializes the SAME
        # logical content as a checkpoint), so caching by version is safe
        self._manifest_cache: dict[int, dict] = {}
        self.path = os.path.abspath(path).rstrip("/")
        self.data_dir = os.path.join(self.path, "data")
        self.delete_dir = os.path.join(self.path, "_deletes")
        self.manifest_dir = os.path.join(self.path, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _raw_manifest(self, version: int) -> dict:
        """The manifest EXACTLY as stored — a checkpoint (``files``) or a
        delta (``adds``/``removes`` vs parent).  Metadata-only callers
        (batch-id dedup) use this to avoid reconstruction."""
        p = os.path.join(self.manifest_dir, f"v{version}.json")
        try:
            with open(p) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot table {self.path} has no manifest for v{version} "
                "(version expired by vacuum, or never committed)"
            ) from None

    @staticmethod
    def _apply_delta(
        parent_files: list[dict], adds: list[dict], removes: list[str]
    ) -> list[dict]:
        """Replay one delta over a parent file list, preserving the exact
        order the writing verb published: carried entries keep the
        parent's relative order (every verb builds ``kept`` as an
        order-preserving filter), added entries append in their original
        order.  Same-path replacements (not produced today — data files
        are uuid-named) substitute in place."""
        removed = set(removes)
        by_path = {e["path"]: e for e in adds}
        out = []
        for e in parent_files:
            p = e["path"]
            if p in removed:
                continue
            if p in by_path:
                out.append(by_path.pop(p))
            else:
                out.append(e)
        out.extend(e for e in adds if e["path"] in by_path)
        return out

    def _manifest(self, version: int) -> dict:
        """The RESOLVED manifest: always carries the full ``files`` list.
        Checkpoint versions load directly; delta versions replay the
        add/remove chain back to the nearest checkpoint (bounded by
        ``CHECKPOINT_EVERY``) and cache the result."""
        cached = self._manifest_cache.get(version)
        if cached is not None:
            return cached
        raw = self._raw_manifest(version)
        if "files" in raw:
            self._manifest_cache[version] = raw
            return raw
        chain = [raw]
        base: dict | None = None
        v = raw["parent"]
        while base is None:
            base = self._manifest_cache.get(v)
            if base is None:
                prior = self._raw_manifest(v)
                if "files" in prior:
                    self._manifest_cache[v] = prior
                    base = prior
                else:
                    chain.append(prior)
                    v = prior["parent"]
        files = list(base["files"])
        for d in reversed(chain):
            files = self._apply_delta(files, d.get("adds", []), d.get("removes", []))
        m = {k: val for k, val in raw.items() if k not in ("adds", "removes")}
        m["files"] = files
        self._manifest_cache[version] = m
        return m

    def _head(self) -> int:
        """Latest committed version, with read()'s descriptive error on an
        empty table (not a bare IndexError)."""
        versions = self.versions()
        if not versions:
            raise ValueError(f"snapshot table {self.path} has no commits")
        return versions[-1]

    def files(self, version: int | None = None) -> list[str]:
        versions = self.versions()
        if not versions:
            return []
        v = version if version is not None else versions[-1]
        return [e["path"] for e in self._manifest(v)["files"]]

    # -- commits -----------------------------------------------------------
    def _write_data_files(
        self,
        df: DataFrame,
        n_files: int,
        stats_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        narrow: bool = False,
    ) -> list[dict]:
        """Materialize df as immutable parquet files and return their
        manifest entries.  Files go through a staging dir so a crash
        mid-write can never be confused with committed data.

        ``stats_cols`` adds per-file min/max zone maps to the entries,
        lifted from the PARQUET FOOTERS the write just produced — metadata
        reads only, no second data pass (what Delta/Iceberg writers do).

        ``partition_by`` Hive-partitions the write (``col=value/`` dirs,
        preserved under ``data/``); each entry records its partition
        values in a ``"partitions"`` dict, which ``pruned_files`` consults
        before zone maps — manifest-level partition pruning, the scan
        never lists or opens non-matching partitions.  ``n_files`` then
        means files PER partition value (usually 1).
        """
        if partition_by:
            from pyspark.sql import functions as F

            # one task per partition value -> n_files files per partition
            writer = df.repartition(
                n_files, *[F.col(c) for c in partition_by]
            ).write.partitionBy(*partition_by)
        elif cluster_by:
            # OPTIMIZE-style clustering: range-partition + sort so each
            # file owns a disjoint slice of the cluster key — this is what
            # makes the footer zone maps selective (tight, non-overlapping
            # min/max per file).  Buckets come from EXACT percentile cut
            # points, not repartitionByRange's reservoir sampling: the
            # sampler's seed derives from the RDD id, so in a long-lived
            # session the boundaries (and therefore which files a pruning
            # probe touches) would vary with everything run before —
            # measured as a once-in-many-runs pruning-bound flake.  The
            # exact pass costs one aggregate over data the rewrite is
            # about to read anyway, and the boundaries are a pure function
            # of the data.
            clustered = self._cluster_exact(df, n_files, cluster_by)
            writer = clustered.write
            if "__cbucket" in clustered.columns:
                # one file per bucket via partitionBy (the bucket dirs are
                # stripped on landing — __cbucket is layout-only, not schema)
                writer = writer.partitionBy("__cbucket")
        elif narrow and n_files == 1:
            # file-bounded rewrite (one hit file / one OPTIMIZE bin): the
            # input is a narrow scan of the very files being replaced, so
            # a repartition(1) would shuffle every surviving row through a
            # full-data Exchange just to land in one task.  coalesce(1)
            # writes straight out of the scan stage — zero exchange; the
            # parallelism at scale lives ACROSS files in the maintenance
            # pool, not within one file's rewrite (how Iceberg/Delta
            # schedule CoW rewrites: one file group per task).
            writer = df.coalesce(1).write
        else:
            writer = df.repartition(n_files).write
        entries = self._land(writer, self.data_dir, partition_by)
        if entries:
            # always attach n_rows/bytes (one footer read per file the
            # commit just wrote — what Iceberg/Delta writers record in
            # manifests so downstream planners never re-open footers)
            self._attach_footer_stats(entries, stats_cols or [])
        return entries

    def _land(
        self, writer, dest: str, partition_by: list[str] | None = None
    ) -> list[dict]:
        """Write ``writer`` into a fresh staging dir, move each parquet file
        it produced under ``dest`` with a uuid name, and remove the staging
        dir — a crash mid-write can never be confused with committed
        files.  Returns one ``{"path"}`` entry per file; the ``col=value``
        directories of ``partition_by`` columns are kept below ``dest`` and
        recorded as the entry's ``"partitions"`` (any other directory
        level, e.g. clustering buckets, is layout-only and flattened)."""
        stage = os.path.join(self.path, f"_stage_{uuid.uuid4().hex}")
        writer.mode("overwrite").parquet(stage)
        entries = []
        for root, _dirs, names in os.walk(stage):
            rel = os.path.relpath(root, stage)
            parts: dict[str, str] = {}
            if rel != "." and partition_by:
                for seg in rel.split(os.sep):
                    if "=" in seg:
                        k, _, v = seg.partition("=")
                        # store the RAW value (Hive-unescaped): probes and
                        # merge keys compare raw user values against these
                        parts[k] = _unescape_path_name(v)
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                sub = os.path.join(dest, rel) if parts else dest
                os.makedirs(sub, exist_ok=True)
                final = os.path.join(sub, f"{uuid.uuid4().hex}.parquet")
                os.replace(os.path.join(root, name), final)
                entry: dict = {"path": final}
                if parts:
                    entry["partitions"] = parts
                entries.append(entry)
        shutil.rmtree(stage)
        return entries

    @staticmethod
    def _cluster_exact(
        df: DataFrame, n_files: int, cluster_by: list[str]
    ) -> DataFrame:
        """Deterministic range clustering: exact percentile cut points on
        the lead cluster key -> a 0..n-1 ``__cbucket`` column; the caller
        writes with ``partitionBy("__cbucket")`` so each bucket lands as
        exactly one file regardless of hash-partition collisions.  No
        sampler anywhere (repartitionByRange's reservoir seed derives from
        the RDD id, so sampled boundaries vary with session history —
        even a tiny secondary sort column reintroduces the wobble): the
        layout is a pure function of the data."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if n_files <= 1:
            return df.repartition(1).sortWithinPartitions(*cluster_by)
        lead = cluster_by[0]
        dt = df.schema[lead].dataType
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            key_sql = f"cast(cast(`{lead}` as timestamp) as double)"
        else:
            key_sql = f"cast(`{lead}` as double)"
        key = F.expr(key_sql)
        qs = ",".join(str(i / n_files) for i in range(1, n_files))
        cuts = df.select(
            F.expr(f"percentile({key_sql}, array({qs}))").alias("c")
        ).first()["c"]
        bucket = F.lit(0)
        for c in cuts or []:
            bucket = bucket + F.when(key > F.lit(float(c)), 1).otherwise(0)
        return (
            df.withColumn("__cbucket", bucket)
            .repartition(n_files, "__cbucket")
            .sortWithinPartitions("__cbucket", *cluster_by)
        )

    @staticmethod
    def _attach_footer_stats(entries: list[dict], stats_cols: list[str]) -> None:
        """Per-file commit-time metadata from the parquet FOOTER the write
        just produced — a kilobyte metadata read per file, never a data
        pass.  Always records ``n_rows`` (footer row count) and ``bytes``
        (ON-DISK compressed size via ``os.path.getsize`` — the quantity
        OPTIMIZE bin-packing and DESCRIBE DETAIL report; row-group
        ``total_byte_size`` would be the uncompressed size and skew bin
        decisions by compression ratio).  ``stats_cols`` additionally
        attaches min/max zone maps, folded across row groups under
        ``_stat_key`` (see ``_footer_zone_map``) and stored JSON-native
        (``_render_stat``): ints and floats stay numbers (NaN included),
        decimals become outward-rounded floats, and timestamps/dates/
        strings are rendered in Spark's cast-to-string form ('yyyy-MM-dd
        HH:mm:ss'), so string order is native order and existing callers'
        literals keep working.  A column whose footer can't vouch gets no
        zone map, and files without one are never pruned.

        Recording row/byte counts in manifest entries is what lets
        :meth:`files_table` be a pure manifest read — Iceberg manifests
        carry exactly these so a 100 TB maintenance planner never opens
        O(files) footers."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        for e in entries:
            pf = pq.ParquetFile(e["path"])
            md, arrow = pf.metadata, pf.schema_arrow
            e["n_rows"] = md.num_rows
            e["bytes"] = os.path.getsize(e["path"])
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            stats: dict = {}
            for c in stats_cols:
                if c not in idx:
                    continue  # partition column: lives in the path, not the file
                t = arrow.field(c).type
                zm = _footer_zone_map(
                    md, idx[c], t.scale if pa.types.is_decimal(t) else None
                )
                if zm is not None:
                    stats[c] = {
                        "min": _render_stat(zm[0], -math.inf),
                        "max": _render_stat(zm[1], math.inf),
                    }
            if stats:
                e["stats"] = stats

    def _publish(
        self,
        entries: list[dict],
        batch_id: int | None = None,
        expected_parent: int | None = None,
        delete_files: list[str] | None = None,
        layout: list[str] | None = None,
        evolved: bool | None = None,
        constraints: dict[str, str] | None = None,
        column_map: dict[str, str] | None = None,
        generated: dict[str, str] | None = None,
        dropped_physical: list[str] | None = None,
        partition_types: dict[str, str] | None = None,
    ) -> int:
        """``layout`` (the table's DECLARED partition keys) and ``evolved``
        (partition evolution was explicitly declared at some point) are
        manifest state: passed explicitly by the verb that changes them,
        propagated from the parent manifest otherwise.  The layout guard
        reads these rather than inferring from the file mixture — MoR
        verbs land flat files on partitioned parents as a matter of
        format, which must NOT silently disarm the guard.

        ``partition_types`` records the COMMITTED logical type (Spark DDL)
        of every path-encoded partition column.  Hive layout stores those
        values as directory strings, and Spark's partition-type INFERENCE
        on read would otherwise re-derive the type from the rendered
        string — silently narrowing bigint to int (a rewrite then bakes
        INT32 into data files and the table becomes unreadable once an
        INT64 file joins it) and mangling numeric-looking strings
        ('0123' -> 123).  Readers use these types as an explicit scan
        schema instead of inference (see ``_read_entries``)."""
        versions = self.versions()
        if expected_parent is not None:
            head = versions[-1] if versions else 0
            if head != expected_parent:
                raise CommitConflictError(
                    f"prepared against v{expected_parent} but head is v{head}"
                )
        parent_m = self._manifest(versions[-1]) if versions else {}
        v = (versions[-1] + 1) if versions else 1
        manifest = {"version": v, "parent": versions[-1] if versions else None}
        lay = layout if layout is not None else parent_m.get("layout")
        if lay is not None:
            manifest["layout"] = lay
        ev = evolved if evolved is not None else parent_m.get("evolved")
        if ev:
            manifest["evolved"] = True
        cons = constraints if constraints is not None else parent_m.get("constraints")
        if cons:
            manifest["constraints"] = cons
        cmap = column_map if column_map is not None else parent_m.get("column_map")
        if cmap:
            manifest["column_map"] = cmap
        gen = generated if generated is not None else parent_m.get("generated_columns")
        if gen:
            manifest["generated_columns"] = gen
        dp = (
            dropped_physical
            if dropped_physical is not None
            else parent_m.get("dropped_physical")
        )
        if dp:
            manifest["dropped_physical"] = dp
        pt = (
            partition_types
            if partition_types is not None
            else parent_m.get("partition_types")
        )
        if pt:
            manifest["partition_types"] = pt
        if delete_files:
            manifest["delete_files"] = delete_files
        if batch_id is not None:
            manifest["batch_id"] = batch_id
        import time as _time

        # wall-clock commit stamp: powers timestamp time travel
        # (version_at / read(as_of=...), the Delta TIMESTAMP AS OF shape).
        # Guaranteed monotone non-decreasing across versions so the
        # as-of resolution is well-defined even under clock jitter.
        prev_ts = parent_m.get("committed_at", 0.0)
        manifest["committed_at"] = max(_time.time(), prev_ts)
        # representation: full checkpoint every CHECKPOINT_EVERY versions
        # (bounds every reconstruction chain), delta otherwise — but only
        # when the delta is both SMALLER than the full list and replays to
        # exactly the published entry order (verified here, so a future
        # verb that reorders carried entries can never corrupt a read; it
        # just pays for a full manifest)
        parent_files = parent_m.get("files", [])
        as_delta = bool(versions) and v % self.CHECKPOINT_EVERY != 0
        if as_delta:
            new_paths = {e["path"] for e in entries}
            parent_by_path = {e["path"]: e for e in parent_files}
            adds = [e for e in entries if parent_by_path.get(e["path"]) != e]
            removes = [p for p in parent_by_path if p not in new_paths]
            as_delta = len(adds) + len(removes) < len(
                entries
            ) and self._apply_delta(parent_files, adds, removes) == entries
        if as_delta:
            manifest["adds"] = adds
            if removes:
                manifest["removes"] = removes
        else:
            manifest["files"] = entries
        final = os.path.join(self.manifest_dir, f"v{v}.json")
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, final)  # THE commit point: put-if-absent
        except FileExistsError:
            raise CommitConflictError(
                f"v{v} was published by another writer since this commit "
                "listed the head"
            ) from None
        finally:
            os.unlink(tmp)
        resolved = {k: val for k, val in manifest.items() if k not in ("adds", "removes")}
        resolved["files"] = entries
        self._manifest_cache[v] = resolved
        return v

    @property
    def _txn_path(self) -> str:
        return os.path.join(self.manifest_dir, "_txn.json")

    def committed_batch_ids(self) -> set[int]:
        """Batch ids recorded by prior idempotent commits: the surviving
        manifests plus the ``_txn.json`` sidecar vacuum() carries expired
        ids into — so a delayed foreachBatch replay of a batch OLDER than
        the vacuum retention window is still deduplicated (Delta retains
        txn appId/version info under a separate retention for the same
        reason)."""
        out = set()
        if os.path.exists(self._txn_path):
            with open(self._txn_path) as f:
                out.update(json.load(f)["batch_ids"])
        for v in self.versions():
            # batch_id is top-level in BOTH manifest representations —
            # raw read, no file-list reconstruction on the commit hot path
            b = self._raw_manifest(v).get("batch_id")
            if b is not None:
                out.add(b)
        return out

    # -- generated columns (Delta GENERATED ALWAYS AS parity) ----------------
    def generated_columns(self, version: int | None = None) -> dict[str, str]:
        """name -> SQL expression (over the other logical columns)."""
        versions = self.versions()
        if not versions:
            return {}
        v = version if version is not None else versions[-1]
        return dict(self._raw_manifest(v).get("generated_columns", {}))

    def set_generated_column(
        self, spark: SparkSession, name: str, expr_sql: str
    ) -> int:
        """Declare ``name`` GENERATED ALWAYS AS ``expr_sql`` (a metadata-
        only commit).  From then on every ingest COMPUTES the column when
        the batch omits it and VALIDATES it (null-safe equality, commit
        refused whole on mismatch) when the batch supplies it — which is
        what makes a generated partition key (day = ts div 86400)
        trustworthy enough to prune on.  Declaring over existing data
        validates the stored values first, one scan."""
        head = self._head()
        gcols = self.generated_columns(head)
        if name in gcols:
            raise ValueError(f"generated column {name!r} already declared")
        m = self._manifest(head)
        existing = self.read(spark, merge_schema=True)
        if name in existing.columns:
            self._validate_generated(existing, {name: expr_sql})
        elif existing.limit(1).count():
            # live rows that LACK the column would be permanently
            # non-conforming: they can never be made to satisfy the
            # expression without a rewrite, and _apply_generated would
            # refuse every later rewrite/update fed from them (null !=
            # expr).  Delta avoids this by allowing generated columns only
            # at table creation; we allow declaration exactly when the
            # stored data already conforms (column present + validated, or
            # no live rows).
            raise ValueError(
                f"cannot declare generated column {name!r}: the table has "
                "live rows without it (backfill with a rewrite first, or "
                "declare before ingesting data)"
            )
        return self._publish(
            list(m["files"]),
            expected_parent=head,
            delete_files=m.get("delete_files"),
            generated={**gcols, name: expr_sql},
        )

    @staticmethod
    def _validate_generated(df: DataFrame, gcols: dict[str, str]) -> None:
        from pyspark.sql import functions as F

        for name, sql in gcols.items():
            if name not in df.columns:
                continue
            bad = df.where(~F.col(name).eqNullSafe(F.expr(sql))).limit(1)
            if bad.count():
                raise ConstraintViolationError(
                    f"generated column {name!r} does not equal its "
                    f"expression ({sql}) for at least one incoming row — "
                    "commit refused, nothing published"
                )

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Compute absent generated columns; validate supplied ones."""
        from pyspark.sql import functions as F

        gcols = self.generated_columns() if self.versions() else {}
        if not gcols:
            return df
        self._validate_generated(df, gcols)
        for name, sql in gcols.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(sql))
        return df

    # -- shallow clone (Delta SHALLOW CLONE parity) --------------------------
    def clone_to(self, dst_path: str) -> "SnapshotTable":
        """Zero-copy SHALLOW CLONE: the clone's v1 manifest references the
        SOURCE's current data/DV files byte-for-byte (one kilobyte-scale
        manifest write, no data movement at any table size — the instant
        dev/test/experiment copy a 100 TB table otherwise can't afford).
        The clone then diverges independently: its own commits land under
        its own ``data/``, its vacuum sweeps only its own tree (source
        files live outside it and are never collected), and layout /
        evolution / constraints / column mapping all carry over.

        Caveat (same as Delta's): VACUUMING THE SOURCE can delete files a
        shallow clone still references — keep the source's retention at
        least as long as the clone's life, or ``commit_rewrite`` the clone
        to materialize it into an independent deep copy."""
        dst = SnapshotTable(dst_path)
        if dst.versions():
            raise ValueError(f"clone destination {dst.path} already has commits")
        head = self._head()
        m = self._manifest(head)
        lay = m.get("layout")
        ev = bool(m.get("evolved"))
        if lay is None:  # legacy source manifest: infer, don't declare flat
            lay, mixed = self._infer_layout(m["files"])
            ev = ev or mixed
        dst._publish(
            list(m["files"]),
            delete_files=list(m.get("delete_files", [])) or None,
            layout=lay,
            evolved=ev,
            constraints=m.get("constraints", {}),
            column_map=m.get("column_map", {}),
            generated=m.get("generated_columns", {}),
            dropped_physical=m.get("dropped_physical", []),
            partition_types=m.get("partition_types", {}),
        )
        return dst

    # -- column mapping (Delta column-mapping parity: rename/drop with ------
    # -- ZERO data rewrite — logical names live in the manifest, physical --
    # -- names live in the immutable parquet files) -------------------------
    def column_map(self, version: int | None = None) -> dict[str, str]:
        """logical name -> physical (in-file) name.  Empty dict = mapping
        never enabled: every reader/writer takes the identity fast path,
        bit-identical to the pre-mapping format."""
        versions = self.versions()
        if not versions:
            return {}
        v = version if version is not None else versions[-1]
        return dict(self._raw_manifest(v).get("column_map", {}))

    def _full_map(self, spark: SparkSession) -> dict[str, str]:
        """The current mapping extended to identity over every live
        logical column (the form rename/drop commits store, so reads can
        select exactly the mapped set and dropped columns vanish)."""
        mapping = self.column_map()
        if mapping:
            return mapping
        return {c: c for c in self.read(spark, merge_schema=True).columns}

    def rename_column(self, spark: SparkSession, old: str, new: str) -> int:
        """Rename a column as a METADATA-ONLY commit: no data file is
        touched at any size — the manifest's mapping changes, readers
        alias the immutable physical column to the new logical name, and
        writers reverse-map incoming logical batches.  Partition columns
        are path-encoded and cannot rename without a rewrite (refused
        loudly, same restriction Delta puts behind a rewrite)."""
        head = self._head()
        m = self._manifest(head)
        mapping = self._full_map(spark)
        if old not in mapping:
            raise ValueError(f"no such column: {old!r}")
        if new in mapping:
            raise ValueError(f"column {new!r} already exists")
        if old in (m.get("layout") or []):
            raise ValueError(
                f"cannot rename partition column {old!r}: its values are "
                "path-encoded; commit_rewrite to change the layout first"
            )
        self._refuse_if_constrained(old, "rename")
        new_map = {(new if log == old else log): phys for log, phys in mapping.items()}
        return self._publish(
            list(m["files"]),
            expected_parent=head,
            delete_files=m.get("delete_files"),
            column_map=new_map,
        )

    def drop_column(self, spark: SparkSession, name: str) -> int:
        """Drop a column as a METADATA-ONLY commit — the physical bytes
        stay in the immutable files (time travel still sees them at old
        versions) but every read of this version on selects it away.
        Partition columns are refused (they define the layout)."""
        head = self._head()
        m = self._manifest(head)
        mapping = self._full_map(spark)
        if name not in mapping:
            raise ValueError(f"no such column: {name!r}")
        if name in (m.get("layout") or []):
            raise ValueError(
                f"cannot drop partition column {name!r}: it defines the "
                "table layout; commit_rewrite to change the layout first"
            )
        self._refuse_if_constrained(name, "drop")
        new_map = {log: phys for log, phys in mapping.items() if log != name}
        if not new_map:
            raise ValueError("cannot drop the last column")
        return self._publish(
            list(m["files"]),
            expected_parent=head,
            delete_files=m.get("delete_files"),
            column_map=new_map,
            # the physical bytes remain: reserve the name until a rewrite
            dropped_physical=self._dropped_physical() + [mapping[name]],
        )

    def _refuse_if_constrained(self, column: str, verb: str) -> None:
        """CHECK constraints reference LOGICAL names; renaming or dropping
        a referenced column would leave the predicate unresolvable at the
        next ingest.  Same restriction as Delta: drop the constraint
        first.  The word-boundary match is conservative — a false positive
        refuses harmlessly with an actionable message."""
        import re as _re

        refs = [
            n
            for n, sql in self.constraints().items()
            if _re.search(rf"\b{_re.escape(column)}\b", sql)
        ]
        if refs:
            raise ValueError(
                f"cannot {verb} column {column!r}: referenced by CHECK "
                f"constraint(s) {refs}; drop_constraint first"
            )
        grefs = [
            n
            for n, sql in self.generated_columns().items()
            if n == column or _re.search(rf"\b{_re.escape(column)}\b", sql)
        ]
        if grefs:
            raise ValueError(
                f"cannot {verb} column {column!r}: it is, or is referenced "
                f"by, generated column(s) {grefs}"
            )

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        """Reverse-map a LOGICAL batch to physical column names for the
        write path; logical columns the mapping has never seen (schema
        evolution adding a column) pass through as identity — the caller
        extends the stored mapping.  ONE select, not sequential renames:
        a legal mapping may swap names ({c: a, a: b}), and chained
        withColumnRenamed would transiently duplicate a name and corrupt
        the frame order-dependently."""
        from pyspark.sql import functions as F

        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    @staticmethod
    def _physical_names(mapping: dict[str, str], cols) -> list[str]:
        """Logical column names -> the physical names zone maps are keyed
        by (footers of immutable files), deduplicated in order."""
        return list(dict.fromkeys(mapping.get(c, c) for c in cols or []))

    @staticmethod
    def _to_logical(df: DataFrame, mapping: dict[str, str], keep: tuple = ()) -> DataFrame:
        """Map a PHYSICAL scan to the logical schema: mapped columns
        alias to their logical names in mapping order, dropped physical
        columns vanish, ``keep`` columns (scan helpers like __file/__pos)
        ride along.  Physical columns absent from this scan's schema
        (pruned pre-evolution subset) stay absent — identical to the
        unmapped reader's subset semantics."""
        from pyspark.sql import functions as F

        if not mapping:
            return df
        present = set(df.columns)
        cols = [
            F.col(phys).alias(log)
            for log, phys in mapping.items()
            if phys in present
        ]
        cols += [F.col(k) for k in keep if k in present]
        return df.select(*cols)

    def _dropped_physical(self) -> list[str]:
        """Physical names orphaned by drop_column: their bytes remain in
        the immutable files, so the names stay RESERVED until a rewrite
        materializes the drop — re-admitting one as a fresh logical column
        would resurrect the stale pre-drop values through the identity
        mapping."""
        versions = self.versions()
        if not versions:
            return []
        return list(self._raw_manifest(versions[-1]).get("dropped_physical", []))

    def _extended_map(self, df_columns, mapping: dict[str, str]) -> dict[str, str] | None:
        """The mapping extended with identity entries for logical columns
        a batch introduces (additive schema evolution on a mapped table).
        Returns None when nothing changed (publish propagates parent's)."""
        if not mapping:
            return None
        fresh = [c for c in df_columns if c not in mapping]
        if not fresh:
            return None
        out = dict(mapping)
        reserved = set(out.values()) | set(self._dropped_physical())
        for c in fresh:
            if c in reserved:
                raise ValueError(
                    f"new column {c!r} collides with a physical name still "
                    "present in data files (a live mapping target, or a "
                    "column dropped but not yet rewritten away); pick a "
                    "different logical name, or commit_rewrite first"
                )
            out[c] = c
        return out

    # -- CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` parity) ------
    def constraints(self, version: int | None = None) -> dict[str, str]:
        """The version's active CHECK constraints: name -> SQL predicate."""
        versions = self.versions()
        if not versions:
            return {}
        v = version if version is not None else versions[-1]
        return dict(self._raw_manifest(v).get("constraints", {}))

    def add_constraint(self, spark: SparkSession, name: str, predicate_sql: str) -> int:
        """Declare a CHECK constraint as a METADATA-ONLY commit (no data
        moves).  Existing rows are validated first, exactly like Delta's
        ``ALTER TABLE ADD CONSTRAINT`` (one scan — refusing to bless a
        table that already violates the rule); every subsequent ingest
        verb then validates its incoming batch and refuses the commit
        whole on a violation.  SQL semantics: a row violates only when
        the predicate is FALSE — NULL passes (add an IS NOT NULL
        constraint to forbid nulls explicitly)."""
        head = self._head()
        cons = self.constraints(head)
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
        self._enforce_constraints(self.read(spark, merge_schema=True), {name: predicate_sql})
        m = self._manifest(head)
        return self._publish(
            list(m["files"]),
            expected_parent=head,
            delete_files=m.get("delete_files"),
            constraints={**cons, name: predicate_sql},
        )

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""
        head = self._head()
        cons = self.constraints(head)
        if name not in cons:
            raise ValueError(f"no such constraint: {name!r}")
        del cons[name]
        m = self._manifest(head)
        return self._publish(
            list(m["files"]),
            expected_parent=head,
            delete_files=m.get("delete_files"),
            constraints=cons,  # {} is an explicit clear, not a propagate
        )

    @staticmethod
    def _enforce_constraints(df: DataFrame, cons: dict[str, str]) -> None:
        """One combined-predicate pass over the batch (all constraints in
        a single scan); the per-constraint re-check runs only on the
        failure path to name the offender."""
        from pyspark.sql import functions as F

        if not cons:
            return
        viol = None
        for sql in cons.values():
            c = F.expr(f"not coalesce(({sql}), true)")
            viol = c if viol is None else (viol | c)
        if df.where(viol).limit(1).count():
            for name, sql in sorted(cons.items()):
                bad = df.where(F.expr(f"not coalesce(({sql}), true)")).limit(1).count()
                if bad:
                    raise ConstraintViolationError(
                        f"CHECK constraint {name!r} ({sql}) is violated by the "
                        "incoming batch — commit refused, nothing published"
                    )

    def _incoming_constraints(self) -> dict[str, str]:
        versions = self.versions()
        return self.constraints(versions[-1]) if versions else {}

    def commit_append(
        self,
        df: DataFrame,
        n_files: int = 1,
        stats_cols: list[str] | None = None,
        batch_id: int | None = None,
        partition_by: list[str] | None = None,
        evolve: bool = False,
    ) -> int:
        """New version = parent's ENTRIES (stats preserved) + df's files.

        ``batch_id`` makes the commit IDEMPOTENT for streaming sinks: a
        replayed ``foreachBatch`` id (at-least-once delivery, restart after
        a crash between the sink write and the checkpoint) is skipped —
        the current version is returned and NOTHING is written.  This is
        the Spark-docs foreachBatch idempotency recipe enforced at the
        table-format layer, where the manifest (the commit point) and the
        dedup record are the same atomic object.  Single-writer assumed,
        as everywhere in this class.

        ``evolve=True`` is PARTITION EVOLUTION (Iceberg spec change as a
        deliberate DDL-like act): the new batch may use a different
        ``partition_by`` than the table's existing files.  Old files keep
        their old layout forever (no rewrite); readers union the layout
        groups (see ``_read_entries``); partition pruning on the new key
        skips new-layout entries by manifest values and old-layout entries
        only via their zone maps (unrecorded values are never skipped —
        correctness over pruning).  Without ``evolve``, a layout mismatch
        still fails loudly — accidental mixing stays an error."""
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.versions()[-1]
        df = self._apply_generated(df)
        self._enforce_constraints(df, self._incoming_constraints())
        mapping = self.column_map()
        ext = self._extended_map(df.columns, mapping)
        df = self._to_physical(df, mapping)
        stats_cols = self._physical_names(mapping, stats_cols)
        versions = self.versions()
        parent = self._manifest(versions[-1]) if versions else {}
        prev = list(parent.get("files", []))
        if not evolve:
            self._check_layout(parent, prev, partition_by)
        # conflict-check against the version whose file list we extended:
        # if another writer advanced the head while data files were being
        # staged, appending "prev + new" would silently drop their commit.
        # Parent deletion vectors are carried forward untouched — they
        # reference immutable files that all survive an append.
        new_layout = sorted(partition_by) if partition_by else []
        return self._publish(
            prev + self._write_data_files(df, n_files, stats_cols, partition_by),
            batch_id,
            expected_parent=versions[-1] if versions else 0,
            delete_files=parent.get("delete_files"),
            # first commit or a declared evolution sets the layout; plain
            # appends propagate the parent's
            layout=new_layout if (evolve or not prev) else None,
            evolved=True if evolve else None,
            column_map=ext,
            partition_types=self._merged_ptypes(parent, df, partition_by),
        )

    @staticmethod
    def _ptypes(df: DataFrame, partition_by: list[str] | None) -> dict[str, str]:
        """The committed logical types (Spark DDL) of a write's partition
        columns — recorded in the manifest so readers never run lossy
        partition-type inference over the path-encoded values."""
        if not partition_by:
            return {}
        return {c: df.schema[c].dataType.simpleString() for c in partition_by}

    def _merged_ptypes(
        self, parent_m: dict, df: DataFrame, partition_by: list[str] | None
    ) -> dict[str, str] | None:
        """Parent's recorded partition types extended with this write's —
        partition evolution accumulates one entry per key ever used.
        Returns None (= propagate parent verbatim) for non-partitioned
        writes so legacy manifests stay byte-identical.

        A RE-declaration at a different type is refused: layout
        generations of the same key share one scan group, so last-write-
        wins would silently re-type (and NULL out past the narrower
        range) the older generations' path-encoded values — the exact
        failure class the record exists to prevent.  Changing a
        partition column's type is a ``commit_rewrite`` (which re-derives
        the record from its own single-generation write)."""
        if not partition_by:
            return None
        recorded = parent_m.get("partition_types", {})
        new = self._ptypes(df, partition_by)
        for c, t in new.items():
            old = recorded.get(c)
            if old is not None and old != t:
                raise ValueError(
                    f"partition column {c!r} was committed as {old} but this "
                    f"write declares it {t} — a type change needs a full "
                    "commit_rewrite (mixed per-generation types cannot share "
                    "one scan schema)"
                )
        return {**recorded, **new}

    @staticmethod
    def _check_layout(
        parent_manifest: dict,
        parent_entries: list[dict],
        partition_by: list[str] | None,
    ) -> None:
        """Appending a layout that differs from the table's DECLARED one is
        almost always an accident, so it fails loudly unless the caller
        declares partition evolution (``commit_append(evolve=True)``).
        The decision reads the manifest's explicit ``layout``/``evolved``
        fields, never the file mixture: merge-on-read verbs land flat
        update files on partitioned parents as a matter of format, and
        that must not silently disarm the guard for later appends.  Once
        evolution IS declared, the guard stands down for good (readers
        group the layout generations).  Manifests from before these fields
        existed fall back to inferring from the entries."""
        if not parent_entries:
            return
        if parent_manifest.get("evolved"):
            return  # declared evolution: mixed layouts are the contract
        declared = parent_manifest.get("layout")
        if declared is None:
            keys = {
                tuple(sorted(e.get("partitions", {}))) for e in parent_entries
            }
            if len(keys) > 1:
                return  # legacy manifest, already mixed: nothing to defend
            declared = list(next(iter(keys)))
        new_keys = sorted(partition_by) if partition_by else []
        if list(declared) != new_keys:
            raise ValueError(
                f"layout mismatch: table layout {tuple(declared) or '(unpartitioned)'} vs "
                f"append's {tuple(new_keys) or '(unpartitioned)'} — declare "
                "partition evolution with commit_append(evolve=True), or "
                "commit_rewrite to change the layout wholesale"
            )

    def commit_rewrite(
        self,
        df: DataFrame,
        n_files: int = 1,
        stats_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
    ) -> int:
        """New version = df's files only (compaction / full overwrite).
        Parent versions keep their file lists — old readers are safe.

        ``cluster_by`` makes the rewrite an OPTIMIZE: files are
        range-partitioned + sorted on the cluster key, so the refreshed
        footer zone maps become tight and disjoint — the pruning win is
        the whole point of the rewrite.

        Same lost-update guard as append/merge: ``df`` was derived from the
        head the caller read, so publishing over a moved head (a commit
        interleaved while the rewrite was staging) would silently drop it."""
        df = self._apply_generated(df)
        self._enforce_constraints(df, self._incoming_constraints())
        versions = self.versions()
        parent = versions[-1] if versions else 0
        return self._publish(
            self._write_data_files(df, n_files, stats_cols, partition_by, cluster_by),
            expected_parent=parent,
            # a full overwrite legitimately re-declares the layout and,
            # being single-layout again, clears the evolution flag
            layout=sorted(partition_by) if partition_by else [],
            evolved=False,
            # the rewrite wrote the LOGICAL names into the new files —
            # renames/drops are materialized, the mapping resets to
            # identity (how a mapped table eventually sheds its aliases)
            # and dropped physical names stop being reserved
            column_map={},
            dropped_physical=[],
            # no old file survives a rewrite: the partition-type record
            # starts over from exactly this write's keys (explicit {}
            # clears it for a flat rewrite)
            partition_types=self._ptypes(df, partition_by),
        )

    # -- reads -------------------------------------------------------------
    def version_at(self, ts: float) -> int:
        """The version committed at-or-before wall-clock ``ts`` (epoch
        seconds) — Delta's TIMESTAMP AS OF resolution.  Raises if the
        earliest surviving version is already newer (or was vacuumed)."""
        best = None
        for v in self.versions():
            if self._raw_manifest(v).get("committed_at", float("inf")) <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"snapshot table {self.path} has no version at or before "
                f"timestamp {ts} (too early, or expired by vacuum)"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
        as_of: float | None = None,
    ) -> DataFrame:
        """Read a pinned version: schedules exactly the manifest's files.

        ``merge_schema=True`` reconciles files written under EVOLVED
        schemas (columns added by later commits): the union schema is
        used and pre-evolution files surface nulls for the new columns —
        parquet's additive schema-evolution contract, the same semantics
        Delta's `mergeSchema` write option commits to.

        Hive-partitioned versions (entries carrying ``"partitions"``) are
        read with ``basePath`` so Spark re-derives the partition columns
        from the ``col=value`` path segments of exactly the listed files.

        Versions carrying ``delete_files`` (merge-on-read commits) subtract
        the dead positions with a broadcast anti-join — see
        ``_read_entries``."""
        if as_of is not None and version is not None:
            raise ValueError("pass version OR as_of, not both")
        if as_of is not None:
            version = self.version_at(as_of)
        v = version if version is not None else self._head()
        m = self._manifest(v)
        if not m["files"]:
            raise ValueError(f"snapshot table {self.path} has no commits")
        return self._read_entries(spark, m, merge_schema=merge_schema)

    @staticmethod
    def _group_key(e: dict) -> tuple:
        """Layout-grouping key for a scan: the partition-key tuple PLUS the
        file's data ROOT (its directory with the trailing col=value
        segments stripped).  A shallow clone's manifest legitimately mixes
        files rooted in the source's tree with files rooted in its own —
        each root scans with its own basePath (a single basePath cannot
        prefix two trees) and the groups union by name."""
        keys = tuple(sorted(e.get("partitions", {})))
        if not keys:
            return ((), "")
        d = os.path.dirname(e["path"])
        parts = d.split(os.sep)
        while parts and "=" in parts[-1]:
            parts.pop()
        return (keys, os.sep.join(parts))

    @staticmethod
    def _scan_group(
        spark: SparkSession,
        group: list[dict],
        keys: tuple,
        root: str,
        merge_schema: bool,
        partition_types: dict[str, str] | None,
        schema=None,
    ) -> DataFrame:
        """Scan ONE layout group.  Flat groups read leaf files directly.
        Hive-layout groups read with ``basePath`` (recovering the
        path-encoded columns) and — when the manifest recorded the
        committed types — an EXPLICIT schema: the in-file footer schema
        plus the partition columns at their recorded DDL types.  With an
        explicit schema Spark parses each directory value as a cast from
        the raw string to the declared type instead of running
        partition-type INFERENCE, which would silently narrow a committed
        bigint to int (the narrowed frame then poisons any rewrite fed
        from it — mixed INT32/INT64 physical types, unreadable table) and
        destroy numeric-looking strings ('0123' -> 123).  Manifests from
        before the record existed (or with untyped keys) fall back to
        inference, byte-identical to the legacy reader.

        ``schema`` (a StructType of in-file columns, when the caller knows
        it) replaces footer inference, which costs one Spark job per read,
        and the Hive branch's footer probe; the scan then yields only those
        columns (plus the path-encoded ones)."""
        paths = [e["path"] for e in group]
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if not keys:
            return (reader.schema(schema) if schema else reader).parquet(*paths)
        pt = partition_types or {}
        reader = reader.option("basePath", root)
        if all(c in pt for c in keys):
            if schema is None:
                # footer-only probe: leaf-file read, no partition discovery
                # — yields exactly the in-file columns (partition values
                # live only in the path for files written via partitionBy)
                probe = spark.read
                if merge_schema:
                    probe = probe.option("mergeSchema", "true")
                schema = probe.parquet(*paths).schema
            file_fields = [
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in schema.fields
                if f.name not in keys
            ]
            # partition fields append in NESTING order (path segment
            # order), matching discovery's column placement exactly —
            # segments BELOW the group root only, like discovery itself
            # (a col=value segment in the table's own root path must not
            # inject a duplicate field)
            seg_order = [
                s.split("=", 1)[0]
                for s in os.path.relpath(
                    os.path.dirname(paths[0]), root
                ).split(os.sep)
                if "=" in s
            ]
            part_fields = [f"`{c}` {pt[c]}" for c in seg_order if c in pt]
            reader = reader.schema(", ".join(file_fields + part_fields))
        return reader.parquet(*paths)

    def _read_entries(
        self,
        spark: SparkSession,
        m: dict,
        entries: list[dict] | None = None,
        merge_schema: bool = False,
        with_pos: bool = False,
        schema=None,
    ) -> DataFrame:
        """Scan ``entries`` (default: all of ``m["files"]``) of manifest
        ``m`` as LOGICAL rows, its deletion vectors subtracted.  Entries are
        grouped by their partition-key tuple (one group per layout
        generation under partition evolution); each group scans with its
        own discovery mode (basePath recovers path-encoded columns for
        Hive-layout files; flat files carry every column in-file) and the
        groups union BY NAME — the logical schema is layout-invariant, only
        the physical encoding of the partition column moves between path
        and file.  Single-layout tables take the single-group fast path.
        Row positions are tagged per scan (``_metadata`` is scan-scoped)
        and the DV anti-join runs once over the union.

        ``with_pos=True`` keeps the ``__file``/``__pos`` columns — the
        input every merge-on-read verb derives its new DV from (already-
        dead positions are subtracted first so they are never re-recorded;
        a DV anti-join over an entry subset is safe) — and unions missing
        columns as nulls: a schema-evolved generation may carry columns an
        older one lacks, and a merge condition on the new column is then
        null=false on old rows, which is the correct DV semantics.

        ``schema`` is the in-file (physical) schema when the caller knows
        it — see ``_scan_group``."""
        from collections import defaultdict

        dvs = m.get("delete_files")
        groups: dict[tuple, list[dict]] = defaultdict(list)
        for e in m["files"] if entries is None else entries:
            groups[self._group_key(e)].append(e)
        dfs = []
        for keys, root in sorted(groups):
            df = self._scan_group(
                spark, groups[(keys, root)], keys, root, merge_schema,
                m.get("partition_types"), schema,
            )
            dfs.append(self._with_pos(df) if dvs or with_pos else df)
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=merge_schema or with_pos)
        if dvs:
            out = self._drop_dead(out, self._read_dvs(spark, dvs))
            if not with_pos:
                out = out.drop("__file", "__pos")
        return self._to_logical(
            out, m.get("column_map", {}), keep=("__file", "__pos")
        )

    @staticmethod
    def _with_pos(df: DataFrame) -> DataFrame:
        """Tag a parquet scan's rows with their file and row position —
        the coordinates a deletion vector records."""
        from pyspark.sql import functions as F

        return df.withColumns(
            {
                "__file": F.col("_metadata.file_path"),
                "__pos": F.col("_metadata.row_index"),
            }
        )

    @staticmethod
    def _read_dvs(spark: SparkSession, dvs: list[str]) -> DataFrame:
        """The (``__file``, ``__pos``) rows of deletion-vector files, read
        with their fixed schema: no footer-inference job."""
        return spark.read.schema("__file string, __pos bigint").parquet(*dvs)

    @staticmethod
    def _drop_dead(df: DataFrame, dv_df: DataFrame) -> DataFrame:
        """Subtract deletion-vector positions from a ``_with_pos`` frame:
        a broadcast anti-join, as DVs are O(dead rows)."""
        from pyspark.sql import functions as F

        dead = F.broadcast(dv_df.select("__file", "__pos"))
        return df.join(dead, ["__file", "__pos"], "left_anti")

    def _write_delete_files(self, doomed: DataFrame) -> list[str]:
        """Materialize a (``__file``, ``__pos``) DataFrame as immutable DV
        parquet under ``_deletes/``.  coalesce(1) is deliberate: a DV is
        O(rows deleted this commit), kilobytes-to-megabytes, and one file
        per commit keeps the manifest small."""
        return [
            e["path"]
            for e in self._land(
                doomed.select("__file", "__pos").coalesce(1).write, self.delete_dir
            )
        ]

    def _write_delete_files_nonempty(self, doomed: DataFrame) -> list[str]:
        """DV write and emptiness probe fused into ONE action: write the
        vector, then read the row count from the parquet footer the write
        just produced (a kilobyte metadata read, same trick as
        ``_attach_footer_stats``).  Callers that used to run a separate
        ``count()`` probe before writing save one full execution of the
        doomed plan — scan + predicate/semi-join — per commit, and the
        doomed frame no longer needs a persist (it has exactly one
        consumer).  An empty vector is removed and reported as [] so
        no-match verbs stay version-free no-ops."""
        import pyarrow.parquet as pq

        files = self._write_delete_files(doomed)
        if sum(pq.ParquetFile(f).metadata.num_rows for f in files) == 0:
            for f in files:
                os.remove(f)
            return []
        return files

    def commit_delete(self, spark: SparkSession, condition) -> int:
        """Merge-on-read DELETE: rows matching ``condition`` (a SQL string
        or Column over the table's schema) are recorded in a new deletion
        vector; NO data file is rewritten or dropped from the manifest.
        Cost is one scan + O(deleted rows) written — contrast the
        copy-on-write alternative's full rewrite of every hit file.  A
        no-match delete is a no-op (returns the current head, writes
        nothing).  The next ``commit_rewrite`` folds DVs into a clean file
        set."""
        head = self._head()
        m = self._manifest(head)
        # ONE action: the DV write doubles as the emptiness probe (footer
        # row count) — the old probe-then-write shape ran the scan twice
        doomed = (
            self._read_entries(spark, m, with_pos=True)
            .where(condition)
            .select("__file", "__pos")
        )
        new_dvs = self._write_delete_files_nonempty(doomed)
        if not new_dvs:
            return head
        return self._publish(
            list(m["files"]),
            expected_parent=head,
            delete_files=list(m.get("delete_files", [])) + new_dvs,
        )

    def commit_update(
        self,
        spark: SparkSession,
        condition,
        assignments: dict,
        n_new_files: int = 1,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Merge-on-read UPDATE (the Delta ``UPDATE ... SET`` statement):
        live rows matching ``condition`` are killed by a deletion vector
        and re-inserted with ``assignments`` (column -> Column expression)
        applied — one atomic commit, no file rewritten, write cost
        O(matched rows).  A no-match update is a version-free no-op."""
        head = self._head()
        m = self._manifest(head)
        # updated rows land as flat files even on a Hive-partitioned
        # parent: layout generations are grouped at read (_read_entries),
        # so the mix is safe — no guard needed here
        # matched rows feed THREE actions (the DV write — which doubles as
        # the emptiness probe via its footer row count — the constraint
        # check, and the re-insert write): persist the scan-with-filter
        # once instead of re-running the table scan per action
        live = self._read_entries(spark, m, with_pos=True).where(condition).persist()
        try:
            new_dvs = self._write_delete_files_nonempty(
                live.select("__file", "__pos")
            )
            if not new_dvs:
                return head
            updated = live.drop("__file", "__pos").withColumns(dict(assignments))
            gcols = self.generated_columns()
            if gcols:
                from pyspark.sql import functions as _F

                # assignments may have moved a source column: recompute, never
                # trust a stale stored value through an UPDATE
                updated = updated.withColumns(
                    {n: _F.expr(sql) for n, sql in gcols.items()}
                )
            try:
                self._enforce_constraints(updated, self._incoming_constraints())
            except ConstraintViolationError:
                # the DV was written before the check (the write IS the
                # match probe); a refused commit must not leave it behind
                for f in new_dvs:
                    os.remove(f)
                raise
            mapping = m.get("column_map", {})
            # assignments may introduce a NEW column: extend the mapping like
            # every other ingest verb, or reads would silently drop it
            ext = self._extended_map(updated.columns, mapping)
            dvs = list(m.get("delete_files", [])) + new_dvs
            new = self._write_data_files(
                self._to_physical(updated, mapping),
                n_new_files,
                self._physical_names(mapping, stats_cols),
            )
            return self._publish(
                list(m["files"]) + new,
                expected_parent=head,
                delete_files=dvs,
                column_map=ext,
            )
        finally:
            live.unpersist()

    def commit_merge_on_read(
        self,
        updates: DataFrame,
        key: str,
        n_new_files: int = 1,
        stats_cols: list[str] | None = None,
        batch_id: int | None = None,
        keep_greatest: list[str] | None = None,
    ) -> int:
        """MERGE with merge-on-read semantics: ``updates`` lands unchanged
        as fresh files, and every row that loses its key — a matched old
        row, or a losing batch row — is killed by this commit's deletion
        vector (no file rewrite).  Write cost is O(updates) + O(matched
        rows) regardless of how many bytes the hit files hold — the
        write-amplification win over ``commit_merge`` (copy-on-write), paid
        back later as a per-read DV anti-join until OPTIMIZE compacts.

        Without a rule the batch row replaces the matched row, and
        ``updates`` must be unique on ``key``.  ``keep_greatest=[cols]``
        is the matched-row rule ``WHEN MATCHED AND s.cols > t.cols THEN
        UPDATE``: ``updates`` may hold several rows per key, and per key
        the row with the greatest ``cols`` tuple survives (NULL least),
        whether it comes from the batch or the table; on a full tie the
        table's row stays, so a replayed row is a no-op.  The first
        commit on an empty table follows the same rule.  NULL keys never
        match, as in SQL MERGE.

        ``batch_id`` gives the merge the same foreachBatch idempotency
        contract as ``commit_append``: a replayed id is skipped whole —
        no DV, no data files, head returned unchanged — which is what
        makes a streaming CDC-upsert sink exactly-once."""
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.versions()[-1]
        versions = self.versions()
        if not versions and not keep_greatest:
            return self.commit_append(
                updates, n_new_files, stats_cols, batch_id=batch_id
            )
        updates = self._apply_generated(updates)
        self._enforce_constraints(updates, self._incoming_constraints())
        head = versions[-1] if versions else 0
        m = self._manifest(head) if versions else {"files": []}
        mapping = m.get("column_map", {})
        ext = self._extended_map(updates.columns, mapping)
        # the updates land as FLAT new files even on a Hive-partitioned
        # parent — safe since reads group the layout generations
        # (_read_entries); the strict guard applies only to
        # commit_append without evolve=True
        new, scan = self._write_merge_batch(
            updates, key, head, n_new_files, stats_cols
        )
        dvs = list(m.get("delete_files", []))
        if scan or keep_greatest:
            # write IS the emptiness probe (footer row count): one action
            # instead of probe + write, and no doomed persist
            dvs += self._write_delete_files_nonempty(
                self._merge_losers(
                    updates.sparkSession,
                    {**m, "column_map": ext or mapping},
                    self._to_physical(updates, mapping).schema,
                    key, keep_greatest or [], scan, new,
                )
            )
        return self._publish(
            list(m["files"]) + new,
            batch_id=batch_id,
            expected_parent=head,
            delete_files=dvs or None,
            column_map=ext,
        )

    def _merge_losers(
        self,
        spark: SparkSession,
        m: dict,
        batch_schema,
        key: str,
        cols: list[str],
        scan: list[dict],
        new: list[dict],
    ) -> DataFrame:
        """The (``__file``, ``__pos``) of every row that loses its key in a
        merge-on-read commit: ONE window over the live rows of ``scan``
        (the key-range-pruned incumbents) and ``new`` (the batch's freshly
        written files), partitioned by key, ordered by ``cols`` descending
        and then incumbent first under a rule, batch first without one;
        in every key the batch holds, each row ranked below first is dead
        (keys the batch lacks are untouched, duplicates included).  The
        scan reads only the key, ``cols`` and the row coordinates, typed
        from the physical ``batch_schema`` of the files just written (no
        inference job)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        phys = self._physical_names(m.get("column_map", {}), [key, *cols])
        schema = T.StructType([batch_schema[c] for c in phys])
        new_names = [os.path.basename(e["path"]) for e in new]
        is_new = F.element_at(F.split(F.col("__file"), "/"), -1).isin(new_names)
        by_key = Window.partitionBy(key)
        w = by_key.orderBy(
            *[F.col(c).desc_nulls_last() for c in cols],
            F.col("__new").asc() if cols else F.col("__new").desc(),
        )
        return (
            self._read_entries(spark, m, scan + new, with_pos=True, schema=schema)
            .where(F.col(key).isNotNull())
            .withColumn("__new", is_new)
            .withColumns(
                {"__rn": F.row_number().over(w), "__hit": F.max("__new").over(by_key)}
            )
            .where((F.col("__rn") > 1) & F.col("__hit"))
            .select("__file", "__pos")
        )

    def _write_merge_batch(
        self,
        updates: DataFrame,
        key: str,
        version: int,
        n_new_files: int,
        stats_cols: list[str] | None,
        partition_by: list[str] | None = None,
    ) -> tuple[list[dict], list[dict]]:
        """The half both merge verbs share.  ``updates`` lands as new data
        files FIRST (they join the manifest only at the atomic publish, so
        the order against hit detection is free), with the key added to
        ``stats_cols``: the key's zone map in the footers the write just
        produced gives this commit the batch's key range without a
        separate job, and lets every later merge prune these files.
        Returns ``(new entries, entries of version that may hold a batch
        key)``: zone-map routing keeps only incumbents whose key range
        overlaps the batch's (parquet truncation only ever widens a
        footer's [min, max], and files without a zone map are kept).
        A falsy ``version`` is the empty table: nothing to route."""
        m = self._manifest(version) if version else {"files": []}
        mapping = m.get("column_map", {})
        new = self._write_data_files(
            self._to_physical(updates, mapping),
            n_new_files,
            self._physical_names(mapping, [*(stats_cols or []), key]),
            partition_by=partition_by,
        )
        rng = self._key_range_from_footers(new, mapping.get(key, key))
        if rng is None:
            return new, list(m["files"])
        return new, (
            self.pruned_entries(key, *rng, version=version) if rng and version else []
        )

    @staticmethod
    def _key_range_from_footers(entries: list[dict], phys_key: str):
        """The key range of a merge batch, folded from the ``phys_key``
        zone maps of its freshly written ``entries`` under ``_stat_key``.
        None when a non-empty file's footer can't vouch for the key
        (all-NULL keys, INT96 timestamps, a key that lives in the path):
        every incumbent must be scanned.  ``()`` when no file holds a row:
        nothing can match.  Otherwise ``(lo, hi)``."""
        lo = hi = None
        for e in entries:
            if e.get("n_rows", 0) == 0:
                continue
            st = e.get("stats", {}).get(phys_key)
            if st is None:
                return None
            lo = st["min"] if lo is None else min(lo, st["min"], key=_stat_key)
            hi = st["max"] if hi is None else max(hi, st["max"], key=_stat_key)
        return () if lo is None else (lo, hi)

    def history(self, spark: SparkSession) -> DataFrame:
        """The table's commit lineage as a DataFrame (Delta DESCRIBE
        HISTORY / Iceberg ``table.snapshots`` parity): one row per
        surviving version with its parent, file/DV counts, and streaming
        batch_id.  Driver-side manifest reads — O(versions) kilobytes."""
        rows = []
        for v in self.versions():
            m = self._manifest(v)
            rows.append(
                (
                    v,
                    m.get("parent"),
                    len(m["files"]),
                    len(m.get("delete_files", [])),
                    m.get("batch_id"),
                    m.get("committed_at"),
                )
            )
        return spark.createDataFrame(
            rows,
            "version int, parent int, n_files int, n_delete_files int, "
            "batch_id long, committed_at double",
        )

    def files_table(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Live-file metadata table (Iceberg ``table.files`` / Delta
        ``DESCRIBE DETAIL`` parity): one row per data file of the version —
        partition values, row count, ON-DISK byte size, the file's
        dead-row count under the version's deletion vectors, and its zone
        maps.  A PURE manifest read plus the small DV parquet files
        (O(dead rows), bounded by the MoR design): row/byte counts are
        recorded per entry at commit time (``_attach_footer_stats``), so
        no parquet footer is opened here — Iceberg manifests carry these
        counts precisely so a 100 TB maintenance planner picking OPTIMIZE
        bins (file sizes) and DV-fold candidates (dead-row ratios) never
        opens a million footers.  Entries committed before the counts were
        recorded are backfilled lazily from their footer (one metadata
        read, old sandbox tables only — never a data pass)."""
        import pyarrow.parquet as pq

        from urllib.parse import unquote, urlparse

        v = self.versions()[-1] if version is None else version
        m = self._manifest(v)
        dead: dict[str, int] = {}
        for dvp in m.get("delete_files", []):
            for f in pq.read_table(dvp, columns=["__file"]).column("__file").to_pylist():
                # DVs record Spark's _metadata.file_path (a file: URI,
                # PERCENT-ENCODED for spaces/'%'/non-ASCII); manifest
                # entries carry plain decoded filesystem paths — decode or
                # dead.get() silently misses under such paths
                p = unquote(urlparse(f).path) if f.startswith("file:") else f
                dead[p] = dead.get(p, 0) + 1
        rows = []
        for e in m["files"]:
            n_rows, nbytes = e.get("n_rows"), e.get("bytes")
            if n_rows is None or nbytes is None:  # pre-r10 manifest entry
                n_rows = pq.ParquetFile(e["path"]).metadata.num_rows
                nbytes = os.path.getsize(e["path"])
            parts = e.get("partitions")
            rows.append(
                (
                    v,
                    e["path"],
                    json.dumps(parts, sort_keys=True) if parts else None,
                    n_rows,
                    nbytes,
                    dead.get(e["path"], 0),
                    json.dumps(e["stats"], sort_keys=True) if e.get("stats") else None,
                )
            )
        return spark.createDataFrame(
            rows,
            "version int, path string, partitions string, n_rows long, "
            "bytes long, n_dead_rows long, zone_maps string",
        )

    def partitions_table(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Partition-level rollup of :meth:`files_table` (Iceberg
        ``table.partitions`` parity): file/row/byte/dead-row totals per
        partition-values tuple (NULL = the unpartitioned layout generation,
        present whenever the table predates partition evolution)."""
        from pyspark.sql import functions as F

        f = self.files_table(spark, version)
        return f.groupBy("version", "partitions").agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("bytes").cast("long").alias("bytes"),
            F.sum("n_dead_rows").cast("long").alias("n_dead_rows"),
        )

    # -- refs: immutable named tags (Iceberg table-refs parity) ---------------
    @property
    def _refs_path(self) -> str:
        return os.path.join(self.path, "_refs.json")

    def tags(self) -> dict[str, int]:
        """Named refs: tag name -> pinned version.  Tags are IMMUTABLE
        pointers (Iceberg `ALTER TABLE ... CREATE TAG` semantics): the
        dataset-versioning primitive — a training run pins `train-v1`
        and every later read of that name sees bit-identical data no
        matter how the table mutates, because :meth:`vacuum` never
        expires a tagged version."""
        try:
            with open(self._refs_path) as f:
                return {k: int(v) for k, v in json.load(f)["tags"].items()}
        except FileNotFoundError:
            return {}

    def tag(self, name: str, version: int | None = None) -> int:
        """Create tag ``name`` at ``version`` (default: current head).
        Refusals: unborn table, unknown/expired version, existing name
        (tags are immutable — ``delete_tag`` first).  Atomic tmp+replace,
        like every metadata write here."""
        versions = self.versions()
        if not versions:
            raise ValueError(f"snapshot table {self.path} has no commits to tag")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise ValueError(
                f"cannot tag: version {v} does not exist (or was vacuumed)"
            )
        cur = self.tags()
        if name in cur:
            raise ValueError(
                f"tag {name!r} already points at v{cur[name]}; tags are "
                f"immutable — delete_tag it first"
            )
        cur[name] = v
        tmp = self._refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"tags": cur}, f)
        os.replace(tmp, self._refs_path)
        return v

    def delete_tag(self, name: str) -> None:
        """Drop a tag; the version it pinned becomes vacuum-eligible."""
        cur = self.tags()
        if name not in cur:
            raise ValueError(f"no tag {name!r} on snapshot table {self.path}")
        del cur[name]
        tmp = self._refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"tags": cur}, f)
        os.replace(tmp, self._refs_path)

    def resolve_tag(self, name: str) -> int:
        """Tag name -> version, for ``read(spark, t.resolve_tag(name))``,
        ``files_table(spark, ...)`` and every other version-pinned verb."""
        try:
            return self.tags()[name]
        except KeyError:
            raise ValueError(f"no tag {name!r} on snapshot table {self.path}")

    # -- write-audit-publish -------------------------------------------------
    @property
    def staged_dir(self) -> str:
        return os.path.join(self.path, "_staged")

    def staged_ids(self) -> list[str]:
        if not os.path.isdir(self.staged_dir):
            return []
        return sorted(
            n[:-5] for n in os.listdir(self.staged_dir) if n.endswith(".json")
        )

    def _staged_manifest(self, staging_id: str) -> dict:
        p = os.path.join(self.staged_dir, f"{staging_id}.json")
        try:
            with open(p) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot table {self.path} has no staged commit "
                f"{staging_id!r} (published, aborted, or never staged)"
            ) from None

    def stage_commit(
        self,
        df: DataFrame,
        n_files: int = 1,
        stats_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        mode: str = "append",
    ) -> str:
        """Write-audit-publish, step 1 (the Iceberg WAP pattern): land the
        data files and a STAGED manifest that no reader resolves — the
        table's committed head is untouched.  An audit job reads the
        would-be state with ``read_staged`` and then either
        ``publish_staged`` (one atomic manifest link, same OCC guard as
        every other verb) or ``abort_staged`` (files deleted, nothing ever
        became visible).  This is how a 100 TB ingest gets a data-quality
        gate WITHOUT a quarantine copy: the expensive write happens once,
        visibility is a metadata decision."""
        if mode not in ("append", "rewrite"):
            raise ValueError("mode must be 'append' or 'rewrite'")
        df = self._apply_generated(df)
        cons_at_stage = self._incoming_constraints()
        self._enforce_constraints(df, cons_at_stage)
        versions = self.versions()
        base = versions[-1] if versions else 0
        # rewrite-mode staging materializes logical names (mapping resets
        # at publish, like commit_rewrite); append-mode stages PHYSICAL
        # bytes under the current mapping, extended for fresh columns
        mapping = {} if mode == "rewrite" else self.column_map()
        ext = self._extended_map(df.columns, mapping) if mode == "append" else None
        entries = self._write_data_files(
            self._to_physical(df, mapping),
            n_files,
            self._physical_names(mapping, stats_cols),
            partition_by,
            cluster_by,
        )
        staging_id = f"s{uuid.uuid4().hex}"
        os.makedirs(self.staged_dir, exist_ok=True)
        staged = {
            "staging_id": staging_id,
            "mode": mode,
            "base_version": base,
            "entries": entries,
        }
        if ext is not None:
            staged["column_map_ext"] = ext
        if partition_by:
            # committed types of the staged path-encoded columns — carried
            # into the published manifest so readers never run inference
            staged["partition_types"] = self._ptypes(df, partition_by)
        # the constraint set this batch was validated against: publish
        # re-scans ONLY constraints added/changed after staging
        staged["constraints_at_stage"] = cons_at_stage
        final = os.path.join(self.staged_dir, f"{staging_id}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(staged, f)
        os.replace(tmp, final)
        return staging_id

    def read_staged(self, spark: SparkSession, staging_id: str) -> DataFrame:
        """The table state the staged commit WOULD publish — what the
        audit job queries.  Append mode: base head's live rows (DVs
        applied) plus the staged files; rewrite mode: staged files only."""
        s = self._staged_manifest(staging_id)
        staged_df = self._staged_rows(spark, s)
        if s["mode"] == "rewrite" or s["base_version"] == 0:
            return staged_df
        return self.read(spark, s["base_version"]).unionByName(staged_df)

    def _staged_rows(self, spark: SparkSession, s: dict) -> DataFrame:
        """The staged files' rows under the mapping the publish would
        install (rewrite mode staged logical names)."""
        mapping = s.get(
            "column_map_ext",
            {} if s["mode"] == "rewrite" else self.column_map(),
        )
        return self._read_entries(
            spark,
            {
                "files": s["entries"],
                "partition_types": s.get("partition_types"),
                "column_map": mapping,
            },
        )

    def publish_staged(
        self, staging_id: str, spark: SparkSession | None = None
    ) -> int:
        """WAP step 3a: promote the audited staged commit in one atomic
        manifest publish.  OCC: refuses if the head moved past the staged
        base through anything but METADATA-ONLY commits (constraint
        add/drop — same files/DVs/mapping, so the audited data state
        still exists and the publish rebases onto the head); a data or
        mapping change means the audit vetted a state that no longer
        exists.

        CHECK constraints added (or changed) BETWEEN staging and publish
        are re-validated here over the staged batch: add_constraint only
        scanned the published head — the staged files were invisible to
        it, so skipping this would let a pre-existing staged batch bypass
        the always-on invariant.  Constraints the batch was already
        validated against at stage time are NOT re-scanned (the staged
        manifest records that set), so the common unchanged-constraints
        publish stays metadata-only.  The delta re-scan needs a session;
        pass ``spark`` or have an active one."""
        s = self._staged_manifest(staging_id)
        base = s["base_version"]
        head = self.versions()[-1] if self.versions() else 0
        if head != base:
            # REBASE over compatible intervening commits: a constraint
            # add/drop is metadata-only (same files, DVs, mapping,
            # layout), so the audited data state still exists and the
            # publish proceeds against the current head — with the new
            # constraints validated below.  Anything that moved DATA or
            # the column mapping invalidates the audit: conflict, and
            # raised FIRST so a doomed publish never pays a re-scan.
            base_m = self._manifest(base) if base else {}
            head_m = self._manifest(head) if head else {}
            compatible = base and all(
                base_m.get(k) == head_m.get(k)
                for k in (
                    "files",
                    "delete_files",
                    "column_map",
                    "generated_columns",
                    "layout",
                    "evolved",
                    "partition_types",
                    "dropped_physical",
                )
            )
            if not compatible:
                raise CommitConflictError(
                    f"prepared against v{base} but head is v{head} and the "
                    "intervening commits are not metadata-only"
                )
            base = head
        at_stage = s.get("constraints_at_stage", {})
        new_cons = {
            k: v for k, v in self.constraints().items() if at_stage.get(k) != v
        }
        if new_cons:
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    "publish_staged needs a SparkSession to re-validate "
                    "table CHECK constraints added since staging"
                )
            self._enforce_constraints(self._staged_rows(spark, s), new_cons)
        if s["mode"] == "append" and base:
            parent = self._manifest(base)
            staged_keys = {
                tuple(sorted(e.get("partitions", {}))) for e in s["entries"]
            }
            self._check_layout(
                parent,
                parent["files"],
                list(next(iter(staged_keys))) if staged_keys != {()} else None,
            )
            entries = list(parent["files"]) + s["entries"]
            dvs = parent.get("delete_files")
            lay: list[str] | None = None  # plain append: propagate parent's
            ev: bool | None = None
        else:
            entries = s["entries"]
            dvs = None
            # first-commit append or rewrite: the staged entries DEFINE the
            # table's layout — declare it explicitly (mirrors commit_append's
            # first commit / commit_rewrite), otherwise the table would rely
            # on the legacy entry-inference fallback forever
            keys = {tuple(sorted(e.get("partitions", {}))) for e in entries}
            lay = list(next(iter(keys))) if len(keys) == 1 else []
            # a rewrite re-declares the layout wholesale and clears any
            # evolution flag, exactly like commit_rewrite
            ev = False if s["mode"] == "rewrite" else None
        cmap = s.get("column_map_ext")
        dp: list[str] | None = None
        if s["mode"] == "rewrite":
            # staged rewrite materialized logical names: the mapping resets
            # AND the dropped physical names stop being reserved, exactly
            # like commit_rewrite (otherwise _extended_map would refuse
            # re-adding a column with an orphaned physical name forever)
            cmap = {}
            dp = []
        staged_pt = s.get("partition_types")
        if s["mode"] == "rewrite":
            pt: dict[str, str] | None = staged_pt or {}
        elif staged_pt:
            parent_pt = (
                self._manifest(base).get("partition_types", {}) if base else {}
            )
            pt = {**parent_pt, **staged_pt}
        else:
            pt = None  # propagate parent verbatim
        v = self._publish(
            entries, expected_parent=base, delete_files=dvs, layout=lay,
            evolved=ev, column_map=cmap, dropped_physical=dp,
            partition_types=pt,
        )
        os.remove(os.path.join(self.staged_dir, f"{staging_id}.json"))
        return v

    def abort_staged(self, staging_id: str) -> int:
        """WAP step 3b: the audit failed — delete the staged files and
        manifest.  Nothing was ever visible; returns files removed."""
        s = self._staged_manifest(staging_id)
        removed = 0
        for e in s["entries"]:
            if os.path.exists(e["path"]):
                os.remove(e["path"])
                removed += 1
        os.remove(os.path.join(self.staged_dir, f"{staging_id}.json"))
        return removed

    # -- DV housekeeping ----------------------------------------------------
    def dv_fraction(self, version: int | None = None) -> float:
        """Dead-row fraction of a version: DV positions / data rows, both
        counted from parquet FOOTER metadata (num_rows — kilobyte reads,
        no data pass).  The operational signal for scheduling OPTIMIZE:
        every read pays the anti-join over exactly these positions."""
        import pyarrow.parquet as pq

        v = version if version is not None else self._head()
        m = self._manifest(v)
        dvs = m.get("delete_files", [])
        if not dvs:
            return 0.0
        dead = sum(pq.ParquetFile(p).metadata.num_rows for p in dvs)
        total = sum(
            pq.ParquetFile(e["path"]).metadata.num_rows for e in m["files"]
        )
        return dead / total if total else 0.0

    @staticmethod
    def _infer_layout(entries: list[dict]) -> tuple[list[str], bool]:
        """Legacy-manifest layout inference (shared by every verb that
        needs a declared layout from a pre-layout-field manifest):
        single partition-key tuple -> that layout; mixed tuples -> flat
        with evolution declared (mixing is the observed contract)."""
        keys = {tuple(sorted(e.get("partitions", {}))) for e in entries}
        if len(keys) == 1:
            return list(next(iter(keys))), False
        return [], True

    def _trim_dvs(
        self, spark: SparkSession, dvs: list[str], kept: list[dict]
    ) -> list[str]:
        """Deletion vectors trimmed to positions in carried files after a
        rewrite folded the others in (uuid basenames make the filter
        exact).  Returns the new DV file list ([] when nothing survives)."""
        from pyspark.sql import functions as F

        if not dvs or not kept:
            return []
        kept_names = [os.path.basename(e["path"]) for e in kept]
        surviving = (
            self._read_dvs(spark, dvs)
            .where(F.element_at(F.split(F.col("__file"), "/"), -1).isin(kept_names))
            .select("__file", "__pos")
        )
        # write IS the probe (footer row count) — one action, not two
        return self._write_delete_files_nonempty(surviving)

    def _scan_flat_live(
        self, spark: SparkSession, paths: list[str], dv_df: DataFrame | None
    ) -> DataFrame:
        """Scan files WITHOUT partition discovery (content exactly as
        stored — Hive-layout files stay free of their path-encoded
        partition columns) and subtract any DV-dead positions.  The input
        to every rewrite that must land its output back inside the same
        partition directory.  ``dv_df`` is the PRE-READ deletion-vector
        frame (``__file``/``__pos``) — callers that loop over groups or
        hit files read it ONCE, not once per iteration."""
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        if dv_df is None:
            return df
        return self._drop_dead(self._with_pos(df), dv_df).drop("__file", "__pos")

    def _relocate_into_partition(
        self, entries: list[dict], template: dict
    ) -> list[dict]:
        """Move freshly-written FLAT files into the partition directory of
        ``template`` (an existing entry) and tag them with its partition
        values.  The ``col=value`` segments are lifted verbatim from the
        template's own path (encoding and nesting order stay exactly the
        table's convention — basePath discovery sees one consistent
        layout) but are re-rooted under THIS table's data_dir: on a
        shallow clone the template may live in the SOURCE table's tree,
        and rewrites must never land there (the source's vacuum would
        collect them).  No-op for flat templates."""
        parts = template.get("partitions")
        if not parts:
            return entries
        rel = os.sep.join(
            seg
            for seg in os.path.dirname(template["path"]).split(os.sep)
            if "=" in seg
        )
        sub = os.path.join(self.data_dir, rel)
        os.makedirs(sub, exist_ok=True)
        for e in entries:
            dst = os.path.join(sub, os.path.basename(e["path"]))
            os.replace(e["path"], dst)
            e["path"] = dst
            e["partitions"] = dict(parts)
        return entries

    # maintenance fan-out: OPTIMIZE repacks partitions and CoW MERGE
    # rewrites hit files as INDEPENDENT driver-submitted Spark jobs.
    # Spark's scheduler is thread-safe, so they run from a bounded thread
    # pool instead of a sequential loop — a nightly OPTIMIZE over a
    # multi-year day-partitioned fact (~2-4k partitions at 100 TB) would
    # otherwise serialize thousands of tiny single-output jobs, tens of
    # minutes of pure scheduling (Delta parallelizes compaction bins the
    # same way).  The pool is per-call (no shared state); results are
    # collected in deterministic input order.
    MAINTENANCE_PARALLELISM = 8

    def _run_maintenance_jobs(self, fn, items: list) -> list[list[dict]]:
        """Run ``fn(item) -> list[entry]`` over items concurrently,
        preserving input order.  Single-item lists skip the pool."""
        if len(items) <= 1:
            return [fn(i) for i in items]
        from concurrent.futures import ThreadPoolExecutor

        workers = min(self.MAINTENANCE_PARALLELISM, len(items))
        with ThreadPoolExecutor(
            max_workers=workers, thread_name_prefix="snapshot-maint"
        ) as pool:
            return list(pool.map(fn, items))

    def _repack_group(
        self,
        spark: SparkSession,
        grp: list[dict],
        dv_df: DataFrame | None,
        n_files: int,
        stats_cols: list[str] | None,
    ) -> list[dict]:
        """One OPTIMIZE bin: scan a partition directory's small files flat
        (DV-dead rows subtracted), pack them, land the replacements back
        inside the same ``col=value`` directory."""
        packed = self._scan_flat_live(spark, [e["path"] for e in grp], dv_df)
        written = self._write_data_files(packed, n_files, stats_cols, narrow=True)
        return self._relocate_into_partition(written, grp[0])

    def commit_compact_small(
        self,
        spark: SparkSession,
        threshold_bytes: int,
        n_files: int = 1,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Bin-packing OPTIMIZE (the Delta/Iceberg small-file compaction
        semantics): rewrite ONLY the files under ``threshold_bytes`` into
        ``n_files`` packed files; files already big enough are carried
        path-identical (zero IO).  Touch cost ∝ small-file bytes, not the
        table — the incremental counterpart to ``commit_rewrite``'s full
        rewrite.  Deletion vectors are handled in both directions: the
        rewritten small rows are materialized DV-applied (their dead rows
        vanish for good), and the vectors are TRIMMED to positions in
        carried files (data files are uuid-named, so basename identity is
        exact).  No-op (head returned) when nothing is under threshold.

        Hive-partitioned tables compact PER PARTITION (the Delta
        ``OPTIMIZE ... WHERE`` nightly-job shape): each partition's small
        files are scanned flat (content stays free of the path-encoded
        partition columns) and the packed replacements land back inside
        the same ``col=value`` directory with their ``"partitions"``
        manifest tag — tier-1 partition pruning survives compaction.
        ``n_files`` means files per touched partition.  Mixed-layout
        (partition-evolved) tables work the same way: every layout
        generation repacks within its own group."""
        from collections import defaultdict

        from pyspark.sql import functions as F

        head = self._head()
        m = self._manifest(head)
        entries = m["files"]
        small = [e for e in entries if os.path.getsize(e["path"]) < threshold_bytes]
        if not small:
            return head
        small_paths = {e["path"] for e in small}
        kept = [e for e in entries if e["path"] not in small_paths]
        dvs = m.get("delete_files", [])
        # the repack scans PHYSICAL columns: translate logical stats_cols
        # through the mapping or the packed files would lose their zone maps
        stats_cols = self._physical_names(m.get("column_map", {}), stats_cols)
        if len(small) == 1:
            # repacking a lone small file is churn UNLESS it has dead rows
            # to fold in — check the DVs for positions in it (DVs are small)
            name = os.path.basename(small[0]["path"])
            folds_deads = bool(dvs) and bool(
                self._read_dvs(spark, dvs)
                .where(F.element_at(F.split(F.col("__file"), "/"), -1) == name)
                .limit(1)
                .count()
            )
            if not folds_deads:
                return head
        # one repack group per partition DIRECTORY (flat table = the single
        # "." group) — lone small files in an otherwise-untouched partition
        # still fold their dead rows in, and packed output never crosses a
        # partition boundary
        groups: dict[str, list[dict]] = defaultdict(list)
        for e in small:
            groups[os.path.dirname(e["path"])].append(e)
        dv_df = self._read_dvs(spark, dvs) if dvs else None  # read ONCE
        # one repack job per partition group, fanned out over the
        # maintenance pool (see MAINTENANCE_PARALLELISM); deterministic
        # manifest order = sorted group order
        results = self._run_maintenance_jobs(
            lambda d: self._repack_group(
                spark, groups[d], dv_df, n_files, stats_cols
            ),
            sorted(groups),
        )
        new: list[dict] = [e for lst in results for e in lst]
        new_dvs = self._trim_dvs(spark, dvs, kept)
        return self._publish(
            kept + new, expected_parent=head, delete_files=new_dvs or None
        )

    def maybe_compact(
        self,
        spark: SparkSession,
        threshold: float = 0.1,
        n_files: int = 1,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
    ) -> int | None:
        """Auto-OPTIMIZE: if the head's dead-row fraction has reached
        ``threshold``, fold the deletion vectors in with a clean
        ``commit_rewrite`` and return the new version; otherwise no-op
        (returns None).  This is the background loop Delta/Iceberg
        deployments run so the DV anti-join cost stays bounded: merge
        writes stay O(changed rows), and reads never carry more than
        ~threshold dead positions."""
        if not 0.0 < threshold <= 1.0:
            raise ValueError("threshold must be in (0, 1]")
        if self.dv_fraction() < threshold:
            return None
        # layout-preserving: a Hive-partitioned table re-partitions on its
        # DECLARED keys (read() surfaces them as ordinary columns, so the
        # rewrite can partitionBy them) instead of quietly going flat and
        # downgrading tier-1 pruning to zone maps
        lay = self._manifest(self._head()).get("layout") or []
        return self.commit_rewrite(
            self.read(spark, merge_schema=True),
            n_files,
            stats_cols,
            partition_by=list(lay) or None,
            cluster_by=cluster_by if not lay else None,
        )

    def commit_merge(
        self,
        updates: DataFrame,
        key: str,
        n_new_files: int = 1,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Copy-on-write MERGE (upsert by ``key``, the Delta ``MERGE INTO``
        shape): files containing NO matched key are carried into the new
        manifest unchanged (no IO); each file with at least one match is
        rewritten without its matched rows; ``updates`` (new values for
        matched keys + brand-new keys) lands as fresh files.  Touch cost is
        proportional to the files actually hit — with clustered layout +
        zone maps that is the handful of files the keys live in, not the
        table.  ``updates`` must be unique on ``key`` (upsert semantics).

        The per-hit-file rewrites are file-count-bounded driver work
        (same class as a commit cadence loop), not data-volume work, and
        fan out over the maintenance thread pool
        (``MAINTENANCE_PARALLELISM`` concurrent Spark jobs) so a
        wide-key merge never serializes thousands of tiny jobs.

        **Hive-partitioned tables**: survivor files are rewritten flat
        (content exactly as stored — no path-encoded column ever moves
        into the data) and relocated back inside their own ``col=value``
        directory, keeping their ``"partitions"`` tag, so tier-1 partition
        pruning survives the merge; ``updates`` land partitioned by the
        table's DECLARED layout (they must carry those columns).  When
        ``key`` IS a partition column, a matched file's fate is decided
        from the manifest alone — every live row shares the key value, so
        the file either disappears whole or is carried untouched; no data
        file is opened for hit detection.

        **Deletion vectors**: a table that has taken merge-on-read
        deletes can be CoW-merged directly — dead positions are
        subtracted in the survivor rewrite (those rows vanish for good),
        and the vectors are trimmed to positions in carried files, same
        as ``commit_compact_small``.
        """
        versions = self.versions()
        if not versions:
            return self.commit_append(updates, n_new_files, stats_cols)
        updates = self._apply_generated(updates)
        self._enforce_constraints(updates, self._incoming_constraints())
        # `updates` feeds the data-file write and the hit-detection
        # semi-joins: persist once (batch-sized), don't
        # recompute the caller's upstream plan per action (guide §5)
        updates = updates.persist()
        try:
            return self._commit_merge_inner(
                updates, key, n_new_files, stats_cols, versions
            )
        finally:
            updates.unpersist()

    def _commit_merge_inner(
        self,
        updates: DataFrame,
        key: str,
        n_new_files: int,
        stats_cols: list[str] | None,
        versions: list[int],
    ) -> int:
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark = updates.sparkSession
        cur = self._manifest(versions[-1])
        cur_entries = cur["files"]
        dvs = list(cur.get("delete_files", []))
        # the table's declared layout decides where the update rows land;
        # legacy manifests fall back to the entry-inferred single layout
        lay = cur.get("layout")
        if lay is None:
            lay, _mixed = self._infer_layout(cur_entries)
        if lay and not set(lay) <= set(updates.columns):
            raise ValueError(
                f"commit_merge updates must carry the table's partition "
                f"columns {tuple(lay)} so upserted rows keep their layout"
            )
        mapping = cur.get("column_map", {})
        ext = self._extended_map(updates.columns, mapping)
        phys_key = mapping.get(key, key)
        upd_keys = updates.select(key).distinct()
        # at 100 TB with clustered layout, zone-map routing leaves the
        # handful of files the keys live in; a key that IS a partition
        # column has no zone map (it lives in the path), so every entry
        # is kept and the partition-keyed ones are matched from the
        # manifest below
        new, scan_entries = self._write_merge_batch(
            updates, key, versions[-1], n_new_files, stats_cols,
            partition_by=list(lay) or None,
        )
        # entries whose KEY is path-encoded never open a data file for hit
        # detection: the manifest's partition value is the key value for
        # every row in the file.  The comparison joins a one-row-per-FILE
        # frame (file-count-bounded, not data) against the update keys,
        # cast to the key's own type so '19723' matches 19723.
        part_entries = [e for e in scan_entries if key in e.get("partitions", {})]
        data_entries = [e for e in scan_entries if key not in e.get("partitions", {})]
        hit_paths: set[str] = set()
        if part_entries:
            kt = updates.schema[key].dataType.simpleString()
            pv = spark.createDataFrame(
                [(e["path"], e["partitions"][key]) for e in part_entries],
                "path string, __pv string",
            ).select("path", F.col("__pv").cast(kt).alias(key))
            hit_paths.update(
                r["path"]
                for r in pv.join(F.broadcast(upd_keys), key, "left_semi")
                .select("path")
                .collect()  # bounded: one row per partition-routed file
            )
        if data_entries:
            # LIVE rows only: a key whose old row a DV already killed must
            # not mark its file as hit (the rewrite would change nothing);
            # the key's type comes from the batch, so no inference job
            key_schema = T.StructType(
                [T.StructField(phys_key, updates.schema[key].dataType)]
            )
            hits = (
                self._read_entries(
                    spark, cur, data_entries, with_pos=True, schema=key_schema
                )
                .join(F.broadcast(upd_keys), key, "left_semi")
                .select("__file")
                .distinct()
                .collect()
            )  # bounded: at most one row per data file
            hit_paths.update(unquote(urlparse(r["__file"]).path) for r in hits)
        kept = [e for e in cur_entries if e["path"] not in hit_paths]
        dv_df = self._read_dvs(spark, dvs) if dvs else None  # read ONCE
        hit_entries = [
            e
            for e in cur_entries
            if e["path"] in hit_paths and key not in e.get("partitions", {})
            # partition-keyed matches never appear here: every live row
            # shares the key value, the file disappears whole
        ]

        def _rewrite_survivors(e: dict) -> list[dict]:
            # survivors stay PHYSICAL end-to-end (scan flat, write back
            # unchanged); only the join key crosses the mapping boundary
            survivors = self._scan_flat_live(spark, [e["path"]], dv_df).join(
                F.broadcast(upd_keys.withColumnRenamed(key, phys_key)),
                phys_key,
                "left_anti",
            )
            # ONE action per hit file: the narrow write doubles as the
            # emptiness probe (footer row count) — the old probe-then-write
            # shape ran the scan+anti-join twice for every partially-matched
            # file, the common case at scale (same fold as the DV writes)
            cols = list(e.get("stats", {})) or None
            written = self._write_data_files(survivors, 1, cols, narrow=True)
            if sum(w.get("n_rows", 0) for w in written) == 0:
                for w in written:
                    # tolerant: a concurrent vacuum scanning for unreferenced
                    # files may have deleted the never-published file first
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(w["path"])
                return []  # fully-matched file: disappears from the manifest
            return self._relocate_into_partition(written, e)

        # per-hit-file rewrites are independent jobs: fan out over the
        # maintenance pool (file-count-bounded, same as the OPTIMIZE bins)
        rewritten: list[dict] = [
            e
            for lst in self._run_maintenance_jobs(_rewrite_survivors, hit_entries)
            for e in lst
        ]
        # trim DVs to carried files: rewritten/vanished files folded their
        # dead rows in above, so only kept-file positions stay live
        new_dvs = self._trim_dvs(spark, dvs, kept)
        # same lost-update guard as commit_append: the kept/rewritten lists
        # were derived from versions[-1], so publishing over a moved head
        # would drop the interleaved commit
        return self._publish(
            kept + rewritten + new,
            expected_parent=versions[-1],
            delete_files=new_dvs or None,
            column_map=ext,
            # partition columns are rename-guarded, so logical names in
            # `updates` ARE the path-encoded names the write just produced
            partition_types=self._merged_ptypes(cur, updates, list(lay) or None),
        )

    def incremental_files(self, v_from: int, v_to: int | None = None) -> list[str]:
        """Files ADDED between two versions — the change-feed consumption
        shape for append-only lineage: a downstream job reads exactly the
        new files, never rescans the table.  Requires v_from's files to
        all survive in v_to (append-only between the two); a rewrite in
        between means file-set subtraction is not row-level change data,
        so fail loudly and point at snapshot_diff instead."""
        vt = v_to if v_to is not None else self._head()
        old = set(self.files(v_from))
        new = self.files(vt)
        dropped = old - set(new)
        if dropped:
            raise ValueError(
                f"v{v_from}->v{vt} is not append-only ({len(dropped)} file(s) "
                "rewritten/removed); use a key-level diff for change data"
            )
        dv_old = set(self._manifest(v_from).get("delete_files", []))
        dv_new = set(self._manifest(vt).get("delete_files", []))
        if dv_old != dv_new:
            raise ValueError(
                f"v{v_from}->v{vt} is not append-only (deletion vectors "
                "changed: rows were deleted/merged in place); use a "
                "key-level diff for change data"
            )
        return [p for p in new if p not in old]

    def read_incremental(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Read only the rows appended after ``v_from`` (cost O(new files))."""
        files = self.incremental_files(v_from, v_to)
        if not files:
            return self.read(spark, v_from).limit(0)
        vt = v_to if v_to is not None else self._head()
        return self._to_logical(
            spark.read.parquet(*files),
            self._raw_manifest(vt).get("column_map", {}),
        )

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` — published as a NEW version
        whose file list is the old one's (the Delta RESTORE semantics):
        history is never rewritten, the rollback itself is auditable and
        time-travelable, and no data moves (manifest-only, O(files) JSON).
        Requires the target's files to still exist (i.e. not vacuumed)."""
        head = self._head()  # captured BEFORE staging: same OCC guard as
        m = self._manifest(version)  # append/merge/rewrite
        entries = m["files"]
        dvs = m.get("delete_files", [])
        missing = [
            p
            for p in [e["path"] for e in entries] + list(dvs)
            if not os.path.exists(p)
        ]
        if missing:
            raise ValueError(
                f"cannot restore v{version}: {len(missing)} file(s) vacuumed away"
            )
        # a restore re-declares the RESTORED version's layout state, not
        # the abandoned head's.  Manifests from before the layout field
        # existed fall back to inferring it from the restored entries'
        # partition keys (the same fallback _check_layout uses) — hard-
        # declaring [] would spuriously arm the guard against appends that
        # correctly match the files' actual partition layout.
        lay = m.get("layout")
        ev = bool(m.get("evolved"))
        if lay is None:
            lay, mixed = self._infer_layout(entries)
            ev = ev or mixed  # legacy mixed layout: evolution is a fact
        return self._publish(
            list(entries),
            expected_parent=head,
            delete_files=list(dvs) or None,
            layout=lay,
            evolved=ev,
            # ... and the restored version's column mapping + constraints
            # (explicit empty = clear, never inherit the abandoned head's)
            column_map=m.get("column_map", {}),
            constraints=m.get("constraints", {}),
            generated=m.get("generated_columns", {}),
            dropped_physical=m.get("dropped_physical", []),
            partition_types=m.get("partition_types", {}),
        )

    def pruned_entries(
        self,
        col: str | None = None,
        lo=None,
        hi=None,
        version: int | None = None,
        partitions: dict | None = None,
    ) -> list[dict]:
        """Manifest-level data skipping, two tiers (Delta/Iceberg scan
        planning in miniature):

        1. **partition pruning** — ``partitions`` maps partition column ->
           value (or list of values); entries whose recorded partition
           value doesn't match are dropped without touching any file.
           Entries with no recorded value for the column can't be skipped.
        2. **zone maps** — the surviving files whose [min, max] stats for
           ``col`` overlap [lo, hi] under ``_stat_key``: numbers (decimal
           stats included) compare numerically with NaN greatest, dates,
           timestamps and strings by their native-order string form.  A
           file with no stats for ``col`` cannot be skipped and is always
           returned (correctness over pruning).
        """
        v = version if version is not None else self._head()
        if col is not None:
            # zone maps are keyed by PHYSICAL names (footers of immutable
            # files); translate a logical probe column through the mapping
            col = self._raw_manifest(v).get("column_map", {}).get(col, col)
            klo, khi = _stat_key(lo), _stat_key(hi)
        out = []
        for e in self._manifest(v)["files"]:
            if partitions:
                skip = False
                pv = e.get("partitions", {})
                for pcol, want in partitions.items():
                    got = pv.get(pcol)
                    if got is None:
                        continue  # unrecorded: can't skip
                    allowed = want if isinstance(want, (list, set, tuple)) else [want]
                    if got not in {str(w) for w in allowed}:
                        skip = True
                        break
                if skip:
                    continue
            st = e.get("stats", {}).get(col) if col is not None else None
            if st is not None and (
                _stat_key(st["max"]) < klo or _stat_key(st["min"]) > khi
            ):
                continue
            out.append(e)
        return out

    def pruned_files(
        self,
        col: str | None = None,
        lo=None,
        hi=None,
        version: int | None = None,
        partitions: dict | None = None,
    ) -> list[str]:
        return [e["path"] for e in self.pruned_entries(col, lo, hi, version, partitions)]

    def read_pruned(
        self,
        spark: SparkSession,
        col: str | None = None,
        lo=None,
        hi=None,
        version: int | None = None,
        partitions: dict | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read only the pruning-surviving files.  The caller still
        applies the row-level predicate — pruning is file-granular, like
        parquet row-group skipping one level up.  ``merge_schema`` has
        read()'s semantics (needed on schema-evolved tables)."""
        entries = self.pruned_entries(col, lo, hi, version, partitions)
        if not entries:
            return self.read(spark, version, merge_schema=merge_schema).limit(0)
        v = version if version is not None else self._head()
        return self._read_entries(spark, self._manifest(v), entries, merge_schema)

    # -- retention -----------------------------------------------------------
    def vacuum(self, keep_last: int = 2) -> dict:
        """Expire all but the newest ``keep_last`` versions and delete data
        files no surviving version references.  TAGGED versions (see
        :meth:`tag`) are retention-exempt: they and their files survive
        any ``keep_last`` until the tag is deleted — which also gives a
        shallow clone a first-class lifetime guarantee (tag the source
        head at clone time and the clone's referenced files can never be
        collected by source vacuums).

        Order matters for crash safety: expired batch_ids are folded into
        the ``_txn.json`` sidecar FIRST (tmp+replace; so exactly-once dedup
        survives vacuum — a delayed replay of a pre-retention batch is
        still skipped), then expired MANIFESTS are removed, then orphaned
        data files — a crash between phases leaves at worst duplicate ids
        in the sidecar (a set union, idempotent) or harmless orphan files
        (invisible to readers, removable by the next vacuum), never a
        manifest pointing at deleted files or a forgotten batch id.  Files
        shared across versions (append lineage) survive as long as any
        surviving manifest lists them.

        Cache scope caveat (single-writer contract, same as every verb):
        expiry evicts THIS instance's manifest cache only.  Another live
        ``SnapshotTable`` on the same path that already cached an expired
        version serves its file list from memory instead of raising the
        "expired by vacuum" error — the read then fails at scan time only
        if the files were actually collected.  Construct a fresh instance
        after a foreign vacuum if the error contract matters.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.versions()
        # TAGGED versions are retention-exempt (Iceberg ref-retention
        # semantics): a tag is a promise that the pinned version stays
        # readable, so expiry skips it and keeps its files referenced
        tagged = set(self.tags().values())
        expired = [v for v in versions[:-keep_last] if v not in tagged]
        expired_set = set(expired)
        survivors = [v for v in versions if v not in expired_set]
        referenced = set()
        for v in survivors:
            referenced.update(self.files(v))
            referenced.update(self._manifest(v).get("delete_files", []))
        for sid in self.staged_ids():  # staged-but-unaudited data survives
            referenced.update(e["path"] for e in self._staged_manifest(sid)["entries"])
        # a SURVIVOR may be a delta whose replay chain (consecutive parent
        # pointers) reaches into the expired range — tag protection can
        # leave gaps BETWEEN surviving runs, so materialize the lowest
        # member of every run (any survivor whose parent is expired or
        # pre-history) as a full checkpoint FIRST (same logical content,
        # so a crash right after is benign: readers see the identical
        # file list either way)
        if expired:
            for sv in survivors:
                raw = self._raw_manifest(sv)
                if "files" in raw:
                    continue
                if raw.get("parent") in expired_set:
                    full = dict(self._manifest(sv))
                    p = os.path.join(self.manifest_dir, f"v{sv}.json")
                    tmp = p + ".tmp"
                    with open(tmp, "w") as f:
                        json.dump(full, f)
                    os.replace(tmp, p)
        expired_batch_ids = set()
        for v in expired:
            b = self._raw_manifest(v).get("batch_id")
            if b is not None:
                expired_batch_ids.add(b)
            # expired manifests leave the cache with their files: a read
            # of an expired version must raise, not serve stale state
            self._manifest_cache.pop(v, None)
        if expired_batch_ids:
            carried = set()
            if os.path.exists(self._txn_path):
                with open(self._txn_path) as f:
                    carried.update(json.load(f)["batch_ids"])
            tmp = self._txn_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"batch_ids": sorted(carried | expired_batch_ids)}, f)
            os.replace(tmp, self._txn_path)
        for v in expired:
            os.remove(os.path.join(self.manifest_dir, f"v{v}.json"))
        removed_files = 0
        sweep_dirs = [self.data_dir]
        if os.path.isdir(self.delete_dir):
            sweep_dirs.append(self.delete_dir)
        for d in sweep_dirs:
            for root, _dirs, names in os.walk(d):
                for name in names:
                    p = os.path.join(root, name)
                    if p not in referenced:
                        os.remove(p)
                        removed_files += 1
        # drop now-empty partition dirs (bottom-up; data_dir itself stays)
        for root, _dirs, _names in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir and not os.listdir(root):
                os.rmdir(root)
        return {"expired_versions": expired, "removed_files": removed_files}
