"""The manifest commit core, plus durable manifest-versioned indexes.

Two manifest families share one commit protocol, implemented once here:

- snapshot tables (`snapshots.py`): `<base>/v{N}.json` with `dirs`,
  `deletes`, `key`, `dir_seqs`, `delete_seqs`, `dir_parts`, `schema`,
  `schemas`; named refs in `<base>/refs.{N}.json`;
- named-table indexes (the LSH dedup index, the IVF-PQ vector index):
  `<root>/manifest/v{NNNNN}.json` with `version`, `params`, `tables`,
  `seqs`, `schemas`, data in `<root>/<table>_<tag>/`.

Both families record their table schemas in `schemas` (table or role
name → StructType JSON), so a reader plans its scan from the manifest
alone (`table_reader`), as Hive reads a table's columns from the
metastore instead of from its files: no parquet footer-inference job
runs before the query.

The shared protocol:

- EXCLUSIVE-CREATE commit (`create_exclusive`): write a temp file,
  hard-link it to the final name, always remove the temp. `os.link`
  fails if the name exists, so a crashed writer leaves the previous
  version in place (never a torn manifest) and two committers racing
  the same `latest+1` cannot clobber each other: the loser raises
  `ManifestConflictError` and must re-read and retry. The documented
  posture is one writer at a time; this makes a violation loud.
  Readers are lock-free at any version.
- latest-version parsing (`latest_number`) and bounded append retry
  (`retry_conflicts`).
- SEQUENCED tombstones (Iceberg v2 data-sequence numbers,
  `read_sequenced`): every data dir is stamped with the version that
  committed it; a tombstone dir applies only to data dirs with a
  STRICTLY SMALLER sequence. This is what makes delete-then-re-add
  correct: a key tombstoned at v3 and re-added at v4 is visible at
  HEAD because the v3 tombstone never applies to the v4 dirs.
- reclaim (`ManifestLog.expire`, `ManifestLog.remove_orphans`).

An index is a set of NAMED parquet tables (IVF-PQ's coarse/codebooks/
codes, LSH's shingles/bands) plus a params dict. `tables` maps table
name -> the data directories visible at that version. Add-batch writes
a NEW directory and commits a manifest whose entry appends it: existing
data files are never rewritten, a reader holding an older version keeps
a consistent view, and a RESTARTED process reopens the index from the
manifest alone (params like m/dim/residual travel with the index). The
reference era's nearest analogue is rebuilding a Hive index table
wholesale (`ql/index/compact/CompactIndexHandler.java` as spec for WHAT
an index rebuild lifecycle covers).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TOMBSTONES = "tombstones"


class ManifestConflictError(RuntimeError):
    """Two committers raced the same manifest version: the loser's
    exclusive create failed. Re-read the latest manifest and retry."""


def latest_number(d: str, prefix: str = "v") -> int:
    """Highest N among the `<prefix>N.json` files in `d` (zero-padded or
    not); 0 when there are none or `d` does not exist yet."""
    if not os.path.isdir(d):
        return 0
    ns = [f[len(prefix):-5] for f in os.listdir(d)
          if f.startswith(prefix) and f.endswith(".json")]
    return max((int(n) for n in ns if n.isdigit()), default=0)


def create_exclusive(path: str, obj) -> None:
    """Commit `obj` as the JSON file `path` only if no such file exists:
    write a temp, hard-link it to `path`, always remove the temp. Raises
    `ManifestConflictError` when another committer got there first."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise ManifestConflictError(
            f"{path} is already committed; re-read the latest version "
            "and retry") from None
    finally:
        os.remove(tmp)


def retry_conflicts(commit: Callable[[], int],
                    max_retries: int = 8) -> tuple[int, int]:
    """Run `commit` (which re-reads the latest version itself) until it
    wins its version, with jittered backoff: the Iceberg commit-retry
    model. Only appends use it, because an append always re-bases
    cleanly on the winner's manifest; conflicts that are not plain
    appends (e.g. competing schema changes) stay loud. Returns
    (committed version, conflicts retried); raises after `max_retries`
    consecutive collisions."""
    attempts = 0
    while True:
        try:
            return commit(), attempts
        except ManifestConflictError:
            attempts += 1
            if attempts > max_retries:
                raise
            time.sleep(random.uniform(0, 0.01 * attempts))


def applicable_tombs(seqs: dict, tombs: list[str],
                     data_dir: str) -> tuple[str, ...]:
    """The tombstone dirs whose commit sequence EXCEEDS this data dir's:
    the only deletes a reader applies to it."""
    return tuple(sorted(t for t in tombs if seqs[t] > seqs[data_dir]))


def read_sequenced(reader: Callable[[object], DataFrameReader],
                   dirs: list[str], tombs: list[str], seqs: dict,
                   key_col: str, tomb_reader: Callable[[], DataFrameReader],
                   group: Callable[[str], object] | None = None,
                   project: Callable[[DataFrame, object], DataFrame]
                   | None = None) -> DataFrame:
    """Scan `dirs` with SEQUENCED tombstones applied: the one tombstone
    grouping behind every snapshot and index read. Dirs are grouped by
    applicable-tombstone set (and by `group(dir)` when given); each
    group is ONE multi-dir scan through `reader(group)` with at most one
    broadcast anti-join on `key_col` against its tombstones (read
    through `tomb_reader()`), shaped by `project(df, group)` when given,
    and the groups union by name. Dirs newer than every tombstone scan
    clean, so common shapes collapse to one or two groups and the cost
    over a plain scan is one broadcast of the O(|deleted|) key set.
    The readers are the caller's (`table_reader` for both families)."""
    groups: dict[tuple, list[str]] = {}
    for d in dirs:
        key = (applicable_tombs(seqs, tombs, d), group(d) if group else None)
        groups.setdefault(key, []).append(d)
    parts = []
    for (ts, g), ds in groups.items():
        df = reader(g).parquet(*ds)
        if ts:
            df = df.join(F.broadcast(tomb_reader().parquet(*ts)), key_col,
                         "left_anti")
        parts.append(project(df, g) if project else df)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _tree_mtime(path: str) -> float:
    """Newest mtime of the dir or anything directly inside it — a
    writer still landing files keeps this fresh."""
    times = [os.path.getmtime(path)]
    for entry in os.listdir(path):
        try:
            times.append(os.path.getmtime(os.path.join(path, entry)))
        except OSError:
            pass
    return max(times)


class ManifestLog(NamedTuple):
    """Where one manifest family keeps its files: data dirs directly
    under `root`, version files `v{N}.json` (N zero-padded to `width`)
    in `mdir`, and `referenced(manifest)` lists every dir a version
    references."""
    root: str
    mdir: str
    width: int
    referenced: Callable[[dict], list[str]]

    def path(self, version: int) -> str:
        return os.path.join(self.mdir, f"v{version:0{self.width}d}.json")

    def load(self, version: int) -> dict:
        """One manifest; FileNotFoundError on a missing/expired version
        (the reader's signal to re-resolve)."""
        with open(self.path(version)) as fh:
            return json.load(fh)

    def expire(self, keep_from: int) -> list[str]:
        """EXPIRY (Iceberg expire_snapshots semantics): drop manifests
        with version < `keep_from`, then delete every data dir no
        surviving manifest references. Kept versions are bit-identical
        afterward; expired versions raise FileNotFoundError on read.
        `keep_from` above the latest version would empty the kept set
        and reclaim every data dir, so it raises instead. Returns the
        removed dirs."""
        latest = latest_number(self.mdir)
        if keep_from > latest:
            raise ValueError(
                f"keep_from={keep_from} exceeds latest committed version "
                f"{latest} under {self.root}: refusing to expire every "
                "manifest")
        keep = {d for v in range(keep_from, latest + 1)
                for d in self.referenced(self.load(v))}
        for v in range(1, keep_from):
            if os.path.exists(self.path(v)):
                os.remove(self.path(v))
        return self._reclaim(keep, None)

    def remove_orphans(self, older_than_seconds: float) -> list[str]:
        """ORPHAN cleanup (Iceberg remove_orphan_files semantics): a
        writer that crashed between its data write and its manifest
        commit leaves a dir no version references; remove such dirs.
        Every version's content is unchanged (orphans are unreferenced
        by definition). A LIVE writer that has landed data but not yet
        committed looks exactly like a crash, so only dirs older than
        `older_than_seconds` go; pass 0 only when no writer can be
        active. Returns the removed dirs."""
        live: set[str] = set()
        for v in range(1, latest_number(self.mdir) + 1):
            try:
                live.update(self.referenced(self.load(v)))
            except FileNotFoundError:  # expired version
                continue
        return self._reclaim(live, time.time() - older_than_seconds)

    def _reclaim(self, referenced: set[str],
                 cutoff: float | None) -> list[str]:
        removed: list[str] = []
        for entry in sorted(os.listdir(self.root)):
            full = os.path.join(self.root, entry)
            if (os.path.isdir(full) and full != self.mdir
                    and full not in referenced
                    and (cutoff is None or _tree_mtime(full) <= cutoff)):
                shutil.rmtree(full)
                removed.append(full)
        return removed


def _log(root: str) -> ManifestLog:
    return ManifestLog(root, os.path.join(root, "manifest"), 5,
                       lambda m: [d for ds in m["tables"].values()
                                  for d in ds])


def latest_version(root: str) -> int:
    """Highest committed index version; 0 if the index doesn't exist
    yet (a fresh root is version 0 — the first commit creates v1)."""
    return latest_number(_log(root).mdir)


def read_manifest(root: str, version: int | None = None) -> dict:
    """Load one index manifest (default: latest). Raises
    FileNotFoundError on a missing/expired version."""
    return _log(root).load(latest_version(root) if version is None
                           else version)


def commit_manifest(root: str, params: dict,
                    tables: dict[str, list[str]],
                    schemas: dict[str, str] | None = None,
                    base_version: int | None = None) -> int:
    """Exclusively commit the next index version (`create_exclusive`).
    `tables` is the FULL visibility map for the new version (callers
    extend the previous manifest's lists for append semantics).
    Directories not present in the previous manifest's `seqs` are
    stamped with the NEW version — the data-sequence number tombstone
    applicability keys on.

    `schemas` maps table name → StructType.json() for the tables this
    commit declares (index table schemas are FIXED per table); the
    previous version's carry over for the rest. Every listed table
    needs one: readers take the schema from here (`table_reader`)
    instead of running a parquet footer-inference job.

    `base_version` (the version this commit's table lists were derived
    from) pins the target to base+1 so the exclusive create detects a
    concurrent commit. Without it the target is `latest+1` AT COMMIT
    TIME, and a commit that landed after the caller's read would be
    silently overwritten by stale table lists. Returns the new
    version."""
    log = _log(root)
    os.makedirs(log.mdir, exist_ok=True)
    v = (latest_version(root) if base_version is None
         else base_version) + 1
    prev = log.load(v - 1) if v > 1 else {"seqs": {}, "schemas": {}}
    seqs = {p: prev["seqs"].get(p, v) for dirs in tables.values()
            for p in dirs}
    create_exclusive(log.path(v), {
        "version": v, "params": params, "tables": tables, "seqs": seqs,
        "schemas": {**prev["schemas"], **(schemas or {})}})
    return v


def append_table_dirs(root: str, new_dirs: dict[str, list[str]],
                      schemas: dict[str, str] | None = None) -> int:
    """Add-batch commit: next version = previous tables with `new_dirs`
    appended per table (tables absent from `new_dirs` carry over
    unchanged). Params carry over verbatim; `schemas` as in
    `commit_manifest` (new tables, e.g. the first tombstone dir,
    declare theirs here)."""
    man = read_manifest(root)
    tables = {k: list(v) for k, v in man["tables"].items()}
    for name, dirs in new_dirs.items():
        tables[name] = tables.get(name, []) + list(dirs)
    return commit_manifest(root, man["params"], tables, schemas,
                           base_version=man["version"])


def append_with_retry(root: str, new_dirs: dict[str, list[str]],
                      max_retries: int = 8) -> tuple[int, int]:
    """`append_table_dirs` under `retry_conflicts`: each attempt
    recomputes the table lists from the latest manifest, picking up the
    winner's dirs. Returns (committed version, conflicts retried)."""
    return retry_conflicts(lambda: append_table_dirs(root, new_dirs),
                           max_retries)


def new_data_dir(root: str, table: str, tag: str) -> str:
    """A fresh data directory path for one table write (not created —
    Spark's parquet writer creates it). Uniqueness comes from the tag
    (callers pass the target version / batch ordinal)."""
    return os.path.join(root, f"{table}_{tag}")


def expire_versions(root: str, keep_from: int) -> list[str]:
    """Index-version expiry: `ManifestLog.expire` over the index root."""
    return _log(root).expire(keep_from)


def remove_orphans(root: str,
                   older_than_seconds: float = 3 * 86400) -> list[str]:
    """Orphan cleanup: `ManifestLog.remove_orphans` over the index root
    (default age cutoff 3 days, Iceberg's remove_orphan_files
    default)."""
    return _log(root).remove_orphans(older_than_seconds)


def recorded_schema(man: dict, table: str) -> StructType:
    """The schema `man` records for `table` (an index table name, or a
    snapshot role: `data` or `tombstones`). A manifest that records
    none cannot be read or extended: ValueError, never a guess from
    the parquet footers."""
    sj = man["schemas"].get(table)
    if not sj:
        raise ValueError(f"manifest v{man['version']} records no schema "
                         f"for table {table!r}")
    return StructType.fromJson(json.loads(sj))


def table_reader(spark: SparkSession, man: dict,
                 table: str) -> DataFrameReader:
    """A reader with the schema `man` records for `table`: the scan
    plans from the manifest alone, without the parquet
    footer-inference job, as Hive reads a table's columns from the
    metastore."""
    return spark.read.schema(recorded_schema(man, table))


def read_index_table(spark: SparkSession, root: str, name: str,
                     version: int | None = None) -> DataFrame:
    """Scan exactly the directories the manifest lists for `name` —
    the AS-OF read path; old versions stay consistent after add-batch."""
    man = read_manifest(root, version)
    return table_reader(spark, man, name).parquet(*man["tables"][name])


def scan_sequenced(spark: SparkSession, man: dict, table: str,
                   key_col: str) -> DataFrame:
    """`read_sequenced` over one index table and the `tombstones`
    table, keyed on `key_col` (doc_id for the LSH dedup index, vec_id
    for the IVF-PQ vector index). A key deleted then re-added survives:
    its re-add dirs outsequence the tombstone."""
    return read_sequenced(
        lambda _: table_reader(spark, man, table), man["tables"][table],
        man["tables"].get(TOMBSTONES, []), man["seqs"], key_col,
        lambda: table_reader(spark, man, TOMBSTONES))


def commit_tombstones(root: str, keys: DataFrame, key_col: str) -> int:
    """MERGE-ON-READ delete for an index: the `key_col` values of `keys`
    land as a TOMBSTONE parquet dir (work O(|keys|) regardless of index
    size, no data file rewritten), committed as one manifest bump that
    appends to the `tombstones` table. Readers at the new version
    anti-join the keys out (`scan_sequenced`); every earlier version
    stays AS-OF exact, and a later add-batch re-adding a key makes it
    visible again. Returns the new version."""
    tdir = new_data_dir(root, TOMBSTONES, f"b{latest_version(root) + 1:05d}")
    tomb = keys.select(key_col)
    tomb.write.mode("overwrite").parquet(tdir)
    return append_table_dirs(root, {TOMBSTONES: [tdir]},
                             schemas={TOMBSTONES: tomb.schema.json()})


def compact_tables(spark: SparkSession, root: str, names: list[str],
                   key_col: str) -> int:
    """COMPACTION for an index (merge-on-read → rewritten baseline):
    materialize the VISIBLE rows of each table in `names` (sequenced
    tombstones applied) into one fresh dir per table and commit a
    manifest listing only those, with no tombstones. Tables not named
    (e.g. frozen IVF-PQ artifacts) carry over verbatim. Queries stop
    paying the anti-join, content never changes, and pre-compaction
    versions stay AS-OF readable. Returns the new version."""
    man = read_manifest(root)
    tag = f"b{man['version'] + 1:05d}c"
    tables = {t: ds for t, ds in man["tables"].items() if t != TOMBSTONES}
    for t in names:
        tables[t] = [new_data_dir(root, t, tag)]
        scan_sequenced(spark, man, t, key_col).write.mode(
            "overwrite").parquet(tables[t][0])
    return commit_manifest(root, man["params"], tables,
                           base_version=man["version"])
