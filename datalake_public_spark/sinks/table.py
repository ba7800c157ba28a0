"""Manifest-based versioned tables on plain parquet — the table layer.

The target stack names Delta/Iceberg as the table format, but their jars
are not in this container (NOTES_r1 — checked). This module owns the
semantics a table format provides, with the same public-knowledge design
those formats use (a log of immutable snapshot manifests over immutable
data files):

  * **atomic commits** — data files are written to the table's ``data/``
    directory under unique names, then a snapshot manifest (the complete
    file list) is published with an O_EXCL create: either the new version
    exists in full or not at all; readers never see partial writes;
  * **snapshot isolation / time travel** — every reader pins one manifest;
    ``read(version=N)`` and ``history()`` work because old manifests and
    the files they reference are never mutated;
  * **optimistic concurrency** — two writers racing to commit version N+1
    collide on the O_EXCL manifest create; the loser gets
    ``CommitConflict`` and retries against the new head (writers never
    corrupt state, exactly Delta's protocol shape);
  * **compaction** — ``compact()`` rewrites small files into
    ``target_file_mb`` chunks as a NEW version; old versions still read
    their old files; ``vacuum()`` deletes files unreferenced by any
    retained manifest.

Layout::

    <root>/_manifests/v{version:012d}.json   # snapshot log (the table)
    <root>/data/<uuid>/part-*.parquet        # immutable data files

Scale: a manifest is one JSON file listing file paths — thousands of
entries at 100 TB, read once per query by the driver; the data path is
ordinary parquet so every Spark scan optimization (pushdown, pruning,
vectorized read) applies unchanged. The commit path does NO data I/O
beyond the new files themselves.

The single-filesystem O_EXCL create is the local stand-in for the
object-store equivalent (S3 conditional PUT / DynamoDB log lock) — the
protocol is identical, only the atomic-create primitive changes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CommitConflict(RuntimeError):
    """Another writer published this version first — reload and retry."""


class SchemaMismatch(ValueError):
    """Write schema is incompatible with the table's committed schema."""


@dataclass(frozen=True)
class Snapshot:
    version: int
    operation: str
    files: tuple[str, ...]
    committed_at: float
    parent: int | None
    schema_json: str | None = None  # absent on pre-schema-tracking manifests
    # per-file column min/max for data skipping: {path: {col: [lo, hi]}};
    # absent on pre-stats manifests (readers then skip nothing)
    stats: dict | None = None

    @property
    def n_files(self) -> int:
        return len(self.files)

    @property
    def schema(self) -> StructType | None:
        return (
            StructType.fromJson(json.loads(self.schema_json))
            if self.schema_json
            else None
        )


def _merge_schemas(
    base: StructType, new: StructType, *, merge_schema: bool
) -> StructType:
    """Additive schema evolution (the Delta/Iceberg contract subset we
    support): matching names must keep the exact same type; NEW columns
    are appended only when ``merge_schema`` is set; columns missing from
    the incoming frame are fine (old+new files both read under the
    merged schema, absent columns fill as null). Type changes never
    merge — a widening rewrite is a different operation."""
    base_types = {f.name: f.dataType for f in base.fields}
    new_fields = []
    for f in new.fields:
        if f.name in base_types:
            if f.dataType != base_types[f.name]:
                raise SchemaMismatch(
                    f"column {f.name!r}: table has {base_types[f.name]}, "
                    f"write has {f.dataType} (type changes don't merge)"
                )
        else:
            new_fields.append(f)
    if new_fields and not merge_schema:
        raise SchemaMismatch(
            f"write adds columns {[f.name for f in new_fields]} not in the "
            "table schema; pass merge_schema=True to evolve additively"
        )
    merged = StructType(list(base.fields))
    for f in new_fields:
        merged = merged.add(f.name, f.dataType, nullable=True)
    return merged


class ManifestTable:
    """A versioned parquet table rooted at ``root`` (local/shared FS)."""

    def __init__(self, root: str) -> None:
        self.root = root.rstrip("/")
        self.manifest_dir = os.path.join(self.root, "_manifests")
        self.data_dir = os.path.join(self.root, "data")

    # -- log access ---------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:012d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        with open(self._manifest_path(v)) as f:
            m = json.load(f)
        return Snapshot(
            version=m["version"],
            operation=m["operation"],
            files=tuple(m["files"]),
            committed_at=m["committed_at"],
            parent=m["parent"],
            schema_json=m.get("schema"),
            stats=m.get("stats"),
        )

    def history(self) -> list[Snapshot]:
        return [self.snapshot(v) for v in self.versions()]

    # -- write path ---------------------------------------------------------

    def _stage_files(self, df: DataFrame) -> list[str]:
        """Write df as immutable parquet files under a unique subdir and
        return their paths. Pure data I/O — nothing is visible to readers
        until a manifest referencing these files is committed."""
        stage = os.path.join(self.data_dir, uuid.uuid4().hex)
        df.write.mode("error").parquet(stage)
        return sorted(
            os.path.join(stage, f)
            for f in os.listdir(stage)
            if f.endswith(".parquet")
        )

    @staticmethod
    def _collect_stats(files: list[str]) -> dict:
        """Per-file column min/max from the parquet footers — the data-
        skipping index (Delta's per-file stats, kept in the manifest so
        pruning needs ZERO data-file I/O). Collected only for primitive
        int/float/string columns. A column whose stats are missing or
        unusable in ANY row group of a file gets NO entry for that whole
        file (pruning then conservatively keeps it): keeping the other
        row groups' bounds would under-cover — e.g. a binary column that
        decodes in some row groups only would publish bounds that miss
        real values, and files_for would wrongly skip the file (merge
        then leaves stale duplicate keys; read_pruned drops rows). Local
        metadata reads: O(files) footers, no row data touched."""
        import pyarrow.parquet as pq

        out: dict = {}
        for path in files:
            md = pq.ParquetFile(path).metadata
            lo: dict = {}
            hi: dict = {}
            incomplete: set = set()  # cols with any unusable row group
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    s = col.statistics
                    if s is None or not s.has_min_max:
                        incomplete.add(name)
                        continue
                    mn, mx = s.min, s.max
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except UnicodeDecodeError:
                            incomplete.add(name)
                            continue
                    if not isinstance(mn, (int, float, str)):
                        incomplete.add(name)  # timestamps/decimals: not JSON-stable
                        continue
                    lo[name] = mn if name not in lo else min(lo[name], mn)
                    hi[name] = mx if name not in hi else max(hi[name], mx)
            out[path] = {
                c: [lo[c], hi[c]] for c in lo if c not in incomplete
            }
        return out

    def _carry_stats(self, parent: int | None, new_files: list[str]) -> dict:
        """Stats for a commit: parent's entries carry over by reference
        (their files are immutable), new files get fresh footer reads."""
        base: dict = {}
        if parent is not None:
            base = dict(self.snapshot(parent).stats or {})
        base.update(self._collect_stats(new_files))
        return base

    def _commit(
        self,
        files: list[str],
        operation: str,
        expected_parent: int | None,
        schema: StructType | None = None,
        stats: dict | None = None,
    ) -> Snapshot:
        """Publish a new version atomically. ``expected_parent`` is the
        version this commit was based on — if someone else committed
        since, the O_EXCL create below fails and the caller must retry
        (optimistic concurrency)."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        head = self.current_version()
        if head != expected_parent:
            raise CommitConflict(
                f"table advanced to v{head} (commit based on v{expected_parent})"
            )
        version = 0 if expected_parent is None else expected_parent + 1
        m = {
            "version": version,
            "operation": operation,
            "files": sorted(files),
            "committed_at": time.time(),
            "parent": expected_parent,
        }
        if schema is not None:
            # record all fields nullable: an explicit non-nullable read
            # schema over parquet is a lie the scanner can't enforce, and
            # evolved columns ARE null in pre-evolution files
            nullable = StructType(
                [f.__class__(f.name, f.dataType, True) for f in schema.fields]
            )
            m["schema"] = json.dumps(nullable.jsonValue())
        if stats is not None:
            # only entries for files this manifest references
            m["stats"] = {f: stats[f] for f in m["files"] if f in stats}
        path = self._manifest_path(version)
        # Publish atomically: fully write a private temp file, fsync it,
        # then os.link it to the manifest name — link fails if the name
        # exists (the conflict check) and never exposes a partial file.
        # A crash before link leaves only an invisible temp file; a crash
        # after link leaves a complete manifest. (O_EXCL-create-then-write
        # would let readers see a partial manifest and a crash mid-write
        # would wedge the version name forever.)
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError as e:  # racing writer published first
            raise CommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp)
        return self.snapshot(version)

    def _write_schema(
        self, parent: int | None, df: DataFrame, merge_schema: bool
    ) -> StructType:
        """Resolve the schema this write commits: the table's schema
        merged additively with the incoming frame's (``SchemaMismatch``
        on type conflicts or non-optedin new columns). Pre-tracking
        manifests (no schema recorded) adopt the incoming schema."""
        base = self.snapshot(parent).schema if parent is not None else None
        if base is None:
            return df.schema
        return _merge_schemas(base, df.schema, merge_schema=merge_schema)

    def overwrite(self, df: DataFrame) -> Snapshot:
        """Replace the table contents (the K2 'overwrite' shape, but
        versioned: old snapshots remain readable). An overwrite REPLACES
        the schema too — full-snapshot semantics."""
        parent = self.current_version()
        files = self._stage_files(df)
        return self._commit(
            files, "overwrite", parent, schema=df.schema,
            stats=self._collect_stats(files),
        )

    def append(self, df: DataFrame, *, merge_schema: bool = False) -> Snapshot:
        """Append rows. The write schema must match the table's; with
        ``merge_schema=True`` new columns evolve the schema additively
        (old files read as null for them — Delta's mergeSchema
        contract). Type changes always raise ``SchemaMismatch``."""
        parent = self.current_version()
        schema = self._write_schema(parent, df, merge_schema)
        base = self.snapshot(parent).files if parent is not None else ()
        new = self._stage_files(df)
        return self._commit(
            list(base) + new, "append", parent, schema=schema,
            stats=self._carry_stats(parent, new),
        )

    def append_retrying(
        self,
        df: DataFrame,
        *,
        merge_schema: bool = False,
        max_retries: int = 5,
        _staged: list[str] | None = None,
    ) -> Snapshot:
        """Append under OPTIMISTIC CONCURRENCY: stage the data files
        once, then retry the (cheap, metadata-only) manifest commit
        against the advancing head until it lands or ``max_retries``
        conflicts are exhausted. This is the writer a multi-job
        deployment uses — two jobs appending simultaneously both
        succeed, serialized by the manifest's atomic create
        (``_commit``'s O_EXCL link), with only the loser's manifest
        write repeated, never its data write.

        ``_staged``: pre-staged data files (internal/testing hook — lets
        a deterministic test interleave another writer's commit between
        this writer's stage and commit, the exact race the retry loop
        exists for)."""
        files = _staged if _staged is not None else self._stage_files(df)
        stats = self._collect_stats(files)
        last: CommitConflict | None = None
        for _ in range(max_retries + 1):
            parent = self.current_version()
            schema = self._write_schema(parent, df, merge_schema)
            base = self.snapshot(parent).files if parent is not None else ()
            merged_stats = dict(self._carry_stats(parent, []))
            merged_stats.update(stats)
            try:
                return self._commit(
                    list(base) + list(files), "append", parent,
                    schema=schema, stats=merged_stats,
                )
            except CommitConflict as e:  # head advanced — re-base, retry
                last = e
                continue
        raise CommitConflict(
            f"append lost {max_retries + 1} consecutive commit races"
        ) from last

    def _tag_marker(self, batch_tag: str) -> str:
        if os.sep in batch_tag or batch_tag in ("", ".", ".."):
            raise ValueError(f"batch_tag {batch_tag!r} is not a valid tag name")
        return os.path.join(self.manifest_dir, "_tags", batch_tag)

    def _tag_committed(self, batch_tag: str) -> bool:
        """Has ``append:<tag>`` ever committed? O(1) via the tag marker;
        falls back to the O(versions) history scan when the marker is
        missing (legacy tables, or a crash between commit and marker)
        and self-heals by writing it."""
        if os.path.exists(self._tag_marker(batch_tag)):
            return True
        if any(s.operation == f"append:{batch_tag}" for s in self.history()):
            self._mark_tag(batch_tag)
            return True
        return False

    def _mark_tag(self, batch_tag: str) -> None:
        path = self._tag_marker(batch_tag)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w"):
            pass

    def append_batch(self, df: DataFrame, batch_tag: str):
        """Idempotent tagged append for streaming sinks: commit ``df``
        with operation ``append:<batch_tag>``; if that tag has already
        committed, do nothing and return None. Spark's streaming
        checkpoint already dedups replayed batches across restarts — the
        tag makes a replay harmless even when a batch re-fires after its
        commit (checkpoint lost/rolled back), closing the
        duplicate-append window a plain ``append`` sink has.

        Replay detection is O(1): each committed tag leaves an empty
        marker under ``_manifests/_tags/`` (written AFTER the manifest
        commit — a crash between the two degrades one future check to
        the history scan, which rewrites the marker). Without markers a
        10k-micro-batch stream would re-read 10k manifests per batch."""
        if self._tag_committed(batch_tag):
            return None
        op = f"append:{batch_tag}"
        parent = self.current_version()
        schema = self._write_schema(parent, df, merge_schema=False)
        base = self.snapshot(parent).files if parent is not None else ()
        new = self._stage_files(df)
        snap = self._commit(
            list(base) + new, op, parent, schema=schema,
            stats=self._carry_stats(parent, new),
        )
        self._mark_tag(batch_tag)
        return snap

    def delete_where(self, spark: SparkSession, condition: str) -> Snapshot:
        """Copy-on-write delete: files containing matching rows are
        rewritten without them; untouched files carry over by reference.
        Cost is O(files containing matches), not O(table)."""
        from pyspark.sql import functions as F

        parent = self.current_version()
        snap = self.snapshot(parent)
        def schema_reader():
            # probe under the table schema, so predicates on evolved
            # columns see nulls in pre-evolution files instead of
            # failing resolution
            if snap.schema is not None:
                return spark.read.schema(snap.schema)
            return spark.read
        keep: list[str] = []
        rewrite: list[str] = []
        for path in snap.files:
            # per-file match probe: one small scan with the predicate
            # pushed down (row-group stats make misses metadata-only)
            n = schema_reader().parquet(path).filter(condition).limit(1).count()
            (rewrite if n else keep).append(path)
        if not rewrite:
            return snap
        # SQL DELETE semantics: remove only rows where the predicate is
        # TRUE — rows where it evaluates to NULL must survive (a bare
        # ~cond is NULL for them and filter would drop them)
        cond = F.expr(condition)
        survivors = schema_reader().parquet(*rewrite).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        new_files = self._stage_files(survivors) if survivors.limit(1).count() else []
        return self._commit(
            keep + new_files, "delete", parent, schema=snap.schema,
            stats=self._carry_stats(parent, new_files),
        )

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
    ) -> Snapshot:
        """MERGE (upsert): rows matching ``key_cols`` are REPLACED by the
        source's row, unmatched source rows are inserted — one atomic
        commit (the Delta MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
        INSERT shape, full-row update form).

        Copy-on-write at FILE granularity: one pass tags every target
        row with its input file and finds the files containing any
        matching key (bounded collect — n_files at most); only those
        files rewrite (their non-matching rows survive alongside the
        whole source); untouched files — and their stats — carry over by
        reference. Cost is O(files containing matches + source), not
        O(table). Duplicate keys WITHIN the source raise (a
        nondeterministic multi-update is the classic MERGE trap)."""
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        # the source feeds five branches (dup check, key bounds,
        # find-affected semi, survivor anti, final write) — persist or
        # its lineage recomputes per job (measured 3× merge wall time).
        # A source the caller already cached stays cached: persist and
        # release only one we cached (storageLevel asks the cache
        # manager; is_cached is a per-object Python flag).
        owned = source.storageLevel == StorageLevel.NONE
        if owned:
            source.persist()
        try:
            return self._merge_impl(spark, source, key_cols)
        finally:
            if owned:
                source.unpersist()

    def _merge_impl(
        self, spark: SparkSession, source: DataFrame, key_cols: list[str]
    ) -> Snapshot:
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        # ONE job computes the duplicate-key check AND the key bounds
        # (each extra driver action costs a full job at any scale)
        kb = (
            source.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(
                F.max("__n").alias("max_n"),
                *[F.min(k).alias(f"lo_{k}") for k in key_cols],
                *[F.max(k).alias(f"hi_{k}") for k in key_cols],
            )
            .first()
        )
        if (kb["max_n"] or 0) > 1:
            raise ValueError(
                "source has duplicate keys — MERGE would update the same "
                "row twice nondeterministically; dedup the source first"
            )
        parent = self.current_version()
        snap = self.snapshot(parent)
        reader = spark.read
        if snap.schema is not None:
            reader = reader.schema(snap.schema)
        # Delta-style candidate pruning BEFORE the find-affected scan:
        # the source keys' min/max ranges against the manifest's
        # per-file stats bound which files can possibly match. On a
        # key-clustered table this makes find-affected O(intersecting
        # files); on an unclustered one it degrades gracefully to the
        # full file list (conservative, never wrong).
        ranges = {
            k: (kb[f"lo_{k}"], kb[f"hi_{k}"])
            for k in key_cols
            if kb[f"lo_{k}"] is not None
        }
        candidates = self.files_for(ranges, parent) if ranges else list(snap.files)
        if not candidates:  # pure insert, nothing can match
            candidates = []
        always_keep = [f for f in snap.files if f not in set(candidates)]
        tagged = (
            reader.parquet(*candidates).withColumn(
                "__file", F.input_file_name()
            )
            if candidates
            else None
        )
        if tagged is not None:
            affected_uris = [
                r["__file"]
                for r in tagged.join(
                    source.select(*key_cols).distinct(), key_cols, "left_semi"
                )
                .select("__file")
                .distinct()
                .collect()
            ]
        else:
            affected_uris = []
        affected = {unquote(urlparse(u).path) for u in affected_uris}
        keep = always_keep + [f for f in candidates if f not in affected]
        if affected_uris:
            survivors = (
                tagged.filter(F.col("__file").isin(list(affected_uris)))
                .drop("__file")
                .join(source.select(*key_cols), key_cols, "left_anti")
            )
        else:
            survivors = reader.parquet(*snap.files).limit(0)
        merged = survivors.unionByName(
            source.select(*[f.name for f in survivors.schema.fields])
        )
        # right-size the rewrite: roughly one output file per replaced
        # file. repartition, NOT coalesce — coalesce(1) would collapse
        # the survivor anti-join itself into one task (measured: the
        # rewrite dominated merge wall time); repartition keeps the join
        # parallel and only the final write narrows
        merged = merged.repartition(max(1, len(affected)))
        new_files = self._stage_files(merged)
        stats = {f: s for f, s in (snap.stats or {}).items() if f in keep}
        stats.update(self._collect_stats(new_files))
        return self._commit(
            keep + new_files, "merge", parent, schema=snap.schema, stats=stats
        )

    # -- read path ----------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read a snapshot under ITS committed schema: files written
        before an additive evolution lack the new columns and surface
        them as null — exactly the mergeSchema read contract, but from
        one manifest field instead of a footer-merging scan over every
        file (which at 100 TB is a full metadata pass)."""
        snap = self.snapshot(version)
        if not snap.files:
            raise FileNotFoundError(
                f"table {self.root} v{snap.version} is empty — read a prior version"
            )
        reader = spark.read
        if snap.schema is not None:
            reader = reader.schema(snap.schema)
        return reader.parquet(*snap.files)

    def index_blooms(
        self,
        spark: SparkSession,
        cols: list[str],
        *,
        n_bits: int = 8192,
        version: int | None = None,
    ) -> Snapshot:
        """Build per-file Bloom filters for ``cols`` and commit them as
        a new snapshot (operation 'index': same files, augmented stats
        under ``bloom:<col>`` keys). Equality predicates on indexed
        columns then prune files min/max bounds cannot (point lookups
        on high-cardinality unclustered columns — Delta's bloom index,
        kept manifest-side where it is engine-owned and testable).

        The build is DISTRIBUTED: one narrow scan of (file, col) grouped
        by input file, each group folding its distinct values into a
        bitmap in an Arrow batch; only n_files (file, b64) rows reach
        the driver.

        Concurrency: the commit's expected parent is the SNAPSHOT READ
        AT THE START of the build (``version`` or the then-current
        head), not the head re-read at commit time — an append landing
        during the long scan makes this raise ``CommitConflict`` (retry
        against the new head) instead of silently publishing a stale
        file list that drops the append. For the same reason an
        explicit older ``version`` cannot roll the head back: it
        conflicts unless that snapshot is still the head."""
        import pandas as pd
        from pyspark.sql import functions as F

        from datalake_public_spark.sinks.zorder import bloom_build

        snap = self.snapshot(version)
        reader = spark.read
        if snap.schema is not None:
            reader = reader.schema(snap.schema)
        src = reader.parquet(*snap.files).select(
            F.input_file_name().alias("__file"), *cols
        )

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            row = {"__file": [pdf["__file"].iloc[0]]}
            for c in cols:
                row[f"bloom_{c}"] = [
                    bloom_build(pdf[c].dropna().unique(), n_bits=n_bits)
                ]
            return pd.DataFrame(row)

        schema = "__file string, " + ", ".join(f"bloom_{c} string" for c in cols)
        rows = src.groupBy("__file").applyInPandas(build, schema).collect()
        # input_file_name returns a file:// URI ("file:///abs/path");
        # manifest paths are plain absolute paths
        from urllib.parse import unquote, urlparse

        by_path = {unquote(urlparse(r["__file"]).path): r for r in rows}
        stats = dict(snap.stats or {})
        for path in snap.files:
            r = by_path.get(path)
            if r is None:
                continue  # empty file produced no group — no bloom
            entry = dict(stats.get(path, {}))
            for c in cols:
                entry[f"bloom:{c}"] = r[f"bloom_{c}"]
            stats[path] = entry
        return self._commit(
            list(snap.files), "index", snap.version,
            schema=snap.schema, stats=stats,
        )

    def files_for(
        self,
        ranges: dict[str, tuple] | None = None,
        version: int | None = None,
        *,
        eq: dict | None = None,
    ) -> list[str]:
        """The snapshot's files that can contain rows matching EVERY
        closed range in ``ranges`` ({col: (lo, hi)}) and EVERY equality
        in ``eq`` ({col: value}), judged by the manifest's per-file
        min/max and Bloom filters — manifest-only pruning, no file I/O.
        Files without stats/blooms for a column are conservatively
        kept; pre-stats manifests prune nothing."""
        from datalake_public_spark.sinks.zorder import bloom_might_contain

        snap = self.snapshot(version)
        stats = snap.stats or {}
        ranges = ranges or {}
        eq = eq or {}

        def admits(path: str) -> bool:
            fstats = stats.get(path, {})
            for col, (lo, hi) in ranges.items():
                if col in fstats:
                    fmin, fmax = fstats[col]
                    if hi < fmin or lo > fmax:
                        return False
            for col, val in eq.items():
                if col in fstats:
                    fmin, fmax = fstats[col]
                    if val < fmin or val > fmax:
                        return False
                bloom = fstats.get(f"bloom:{col}")
                if bloom is not None and not bloom_might_contain(bloom, val):
                    return False
            return True

        return [f for f in snap.files if admits(f)]

    def read_pruned(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple] | None = None,
        version: int | None = None,
        *,
        eq: dict | None = None,
    ) -> DataFrame:
        """Read only the files the ``ranges``/``eq`` predicates can
        match, WITH the predicates applied (so results equal
        ``read().filter(...)`` exactly — pruning is a pure I/O win,
        never a semantics change). At 100 TB this is the difference
        between planning over every file and opening only the
        z-ordered/bloom-matching slice; row-group stats then prune
        further inside each surviving file."""
        from pyspark.sql import functions as F

        snap = self.snapshot(version)
        files = self.files_for(ranges, version, eq=eq)
        cond = F.lit(True)
        for col, (lo, hi) in (ranges or {}).items():
            cond = cond & F.col(col).between(lo, hi)
        for col, val in (eq or {}).items():
            cond = cond & (F.col(col) == F.lit(val))
        if not files:
            return self.read(spark, version).filter(F.lit(False))
        reader = spark.read
        if snap.schema is not None:
            reader = reader.schema(snap.schema)
        return reader.parquet(*files).filter(cond)

    # -- maintenance --------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        target_file_mb: int = 128,
        *,
        zorder_by: list[str] | None = None,
    ) -> Snapshot:
        """Rewrite the current snapshot into ~target-sized files as a new
        version (the OPTIMIZE operation). Old versions still reference
        the old files, so time travel is preserved until vacuum().

        ``zorder_by`` additionally CLUSTERS the rewrite on the Morton
        key of the given numeric columns (Delta's OPTIMIZE ZORDER BY):
        each output file then covers a compact Z-curve segment — a tight
        min/max box in EVERY listed dimension — so the manifest stats
        this commit records prune multi-dimension range predicates with
        zero data I/O (``files_for``/``read_pruned``). A z-ordered
        compaction rewrites even when the file count is already at
        target (the clustering is the point); a plain one short-circuits."""
        parent = self.current_version()
        snap = self.snapshot(parent)
        total = sum(os.path.getsize(f) for f in snap.files)
        n_out = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        if zorder_by is None and n_out >= snap.n_files:
            return snap  # nothing to gain
        df = self.read(spark, parent)
        if zorder_by is not None:
            from pyspark.sql import functions as F

            from datalake_public_spark.sinks.zorder import (
                morton_key,
                normalize_to_bits,
            )

            bits = min(16, 63 // len(zorder_by))
            bounds = df.agg(
                *[F.min(c).alias(f"lo_{c}") for c in zorder_by],
                *[F.max(c).alias(f"hi_{c}") for c in zorder_by],
            ).first()
            # Per-column bounds check: an all-null column (lo/hi None)
            # maps to a constant key term inside normalize_to_bits —
            # same as a degenerate lo==hi range. Only when EVERY column
            # lacks bounds is there nothing to cluster, and then the
            # commit must be labeled plain 'compact' so readers never
            # believe unclustered files are z-clustered.
            if any(bounds[f"lo_{c}"] is not None for c in zorder_by):
                normed = [
                    normalize_to_bits(
                        c, bounds[f"lo_{c}"], bounds[f"hi_{c}"], bits
                    )
                    for c in zorder_by
                ]
                df = (
                    df.withColumn("_zkey", morton_key(normed, bits))
                    .repartitionByRange(int(n_out), "_zkey")
                    .sortWithinPartitions("_zkey")
                    .drop("_zkey")
                )
                op = "compact-zorder"
            else:
                df = df.repartition(int(n_out))
                op = "compact"
        else:
            df = df.repartition(int(n_out))
            op = "compact"
        files = self._stage_files(df)
        return self._commit(
            files, op, parent, schema=snap.schema,
            stats=self._collect_stats(files),
        )

    def restore(self, version: int) -> Snapshot:
        """Roll the table BACK to an old snapshot's contents as a NEW
        commit (Delta's RESTORE): the head advances, referencing exactly
        the old version's files and stats — no data I/O, history intact
        (the bad commits stay readable between the restored version and
        the restore commit). Fails with CommitConflict under a racing
        writer like every commit; vacuum treats the restored files as
        live because the new head references them."""
        snap = self.snapshot(version)  # raises if the version is gone
        head = self.current_version()
        return self._commit(
            list(snap.files),
            f"restore:v{version}",
            head,
            schema=snap.schema,
            stats=snap.stats,
        )

    def clone_to(self, target_root: str) -> "ManifestTable":
        """SHALLOW clone (Delta/Iceberg shallow CLONE): create a new
        table whose v0 manifest references THIS table's current data
        files — zero data copied, O(1 manifest write). The clone then
        evolves independently (its appends/merges write under its own
        root; source files are never mutated by either side — both
        tables' immutability contracts already guarantee that).

        Caveat, same as Delta's: the clone's snapshot depends on the
        source's files staying alive — a source ``vacuum()`` that drops
        files still referenced by a clone breaks the clone (vacuum only
        consults the SOURCE's manifests). Clone for dev/test forks and
        short-lived experiments; materialize (overwrite from a read)
        for long-lived divergence."""
        snap = self.snapshot()
        clone = ManifestTable(target_root)
        if clone.current_version() is not None:
            raise FileExistsError(
                f"target {target_root} already has commits — clone only "
                "onto an empty root"
            )
        clone._commit(
            list(snap.files),
            f"clone:{self.root}@v{snap.version}",
            None,
            schema=snap.schema,
            stats=snap.stats,
        )
        return clone

    def file_diff(self, v_from: int, v_to: int) -> dict:
        """Metadata-only diff between two snapshots: which data files
        ``v_to`` added and removed relative to ``v_from``. O(manifest
        sizes), no data I/O — the audit primitive behind 'what did this
        commit touch' at any table size."""
        a = set(self.snapshot(v_from).files)
        b = set(self.snapshot(v_to).files)
        return {"added": sorted(b - a), "removed": sorted(a - b)}

    def read_changes(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """Row-level change feed between two snapshots (the CDC read
        surface Delta calls Change Data Feed), computed WITHOUT any
        change log: ``file_diff`` bounds the work to the files ``v_to``
        added/removed, then an exceptAll in each direction cancels the
        rows that were merely REWRITTEN unchanged (copy-on-write merge/
        delete rewrites whole files; compaction rewrites everything —
        its feed is empty because every row cancels).

        Returns the table columns plus ``_change_type``
        ('insert' | 'delete'); an update appears as its delete+insert
        pair (full-row update form, matching this table's MERGE).
        Multiset semantics: k duplicate rows appearing k−j times after
        the change yield j delete rows.

        Cost is O(rows in CHANGED files) — never a full-table scan; the
        exceptAll shuffles only those rows. Pure appends short-circuit
        to a scan of the new files with no shuffle at all."""
        from pyspark.sql import functions as F

        diff = self.file_diff(v_from, v_to)
        schema = self.snapshot(v_to).schema
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)

        def rows(files: list[str]) -> DataFrame:
            if not files:
                return self.read(spark, v_to).limit(0)
            return reader.parquet(*files)

        added, removed = rows(diff["added"]), rows(diff["removed"])
        if not diff["removed"]:  # pure append: no cancellation needed
            return added.withColumn("_change_type", F.lit("insert"))
        inserts = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionByName(deletes)

    def maintain(
        self,
        spark: SparkSession,
        *,
        max_files: int = 64,
        target_file_mb: int = 128,
        retain_versions: int = 10,
    ) -> Snapshot:
        """The periodic maintenance pass a streaming-append table needs:
        compact when the head snapshot exceeds ``max_files`` (many small
        per-batch files otherwise accumulate forever and every read pays
        per-file open cost), then vacuum to the retention window. No-op
        below the threshold — or on a table with no commits yet (a
        streaming tick may maintain tables a fully-duplicate feed never
        wrote to). Returns the head snapshot, or None for an empty
        table.

        Bloom indexes are REBUILT after a compaction for every column
        the pre-compact snapshot had indexed — compacted files are new
        files with fresh min/max stats but no blooms, and silently
        losing the index would degrade point-lookup pruning to
        conservative full-candidate reads."""
        if self.current_version() is None:
            return None
        snap = self.snapshot()
        if snap.n_files > max_files:
            bloom_cols = sorted(
                {
                    key.split(":", 1)[1]
                    for fstats in (snap.stats or {}).values()
                    for key in fstats
                    if key.startswith("bloom:")
                }
            )
            snap = self.compact(spark, target_file_mb)
            if bloom_cols:
                snap = self.index_blooms(spark, bloom_cols)
            self.vacuum(retain_versions)
        return snap

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Delete data files unreferenced by the newest ``retain_versions``
        manifests, and drop the older manifests. Returns deleted paths.
        Bounds storage after compaction/overwrites; time travel shrinks
        to the retained window (exactly Delta's VACUUM contract).

        Only files under THIS table's ``data/`` are ever deleted:
        manifests of a shallow clone reference the SOURCE table's files,
        and a clone's vacuum must never reach across table roots (the
        same ownership boundary Delta's vacuum enforces by scanning only
        the table directory)."""
        vs = self.versions()
        if len(vs) <= 0:
            return []
        keep_vs = vs[-retain_versions:] if retain_versions > 0 else []
        referenced: set[str] = set()
        for v in keep_vs:
            referenced.update(self.snapshot(v).files)
        deleted: list[str] = []
        own_prefix = self.data_dir + os.sep
        for v in vs:
            if v in keep_vs:
                continue
            for f in self.snapshot(v).files:
                if (
                    f not in referenced
                    and f.startswith(own_prefix)
                    and os.path.exists(f)
                ):
                    os.remove(f)
                    deleted.append(f)
            os.remove(self._manifest_path(v))
        # drop now-empty staging dirs
        if os.path.isdir(self.data_dir):
            for d in os.listdir(self.data_dir):
                full = os.path.join(self.data_dir, d)
                if os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)
        return sorted(deleted)
