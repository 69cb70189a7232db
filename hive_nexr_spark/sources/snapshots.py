"""Snapshot / time-travel table lifecycle (Iceberg-style, minimal).

The lakehouse pattern behind `SELECT ... AS OF <version>`: every commit
writes an IMMUTABLE data directory plus a manifest that lists ALL data
directories visible at that version — readers resolve a version by
reading its manifest and scanning exactly the listed directories, so
old versions stay readable after appends (append = new delta dir + new
manifest; no rewrite of existing data). The reference era's nearest
analogue is INSERT OVERWRITE into a dated partition; the manifest
indirection is what makes point-in-time reads cheap and atomic.

The engine mechanics are real: manifests are JSON files on disk, delta
dirs are parquet, readers scan the manifest's dir list with the schema
the manifest records (`index_manifest.table_reader`), so planning a
read opens no parquet footer. Only the catalog (a scratch dir instead
of a metastore table-property chain) is simplified. The commit
protocol (exclusive create, sequenced tombstones, append retry, expiry
and orphan reclaim) is the one in `index_manifest.py`; this module
keeps the snapshot format `<base>/v{N}.json`:

    dirs         data dirs visible at this version
    deletes      tombstone dirs (equality deletes on `key`)
    dir_seqs     data dir → committing version (Iceberg v2 data
                 sequence number); delete_seqs: same for tombstones
    dir_parts    data dir → partition value (partitioned appends)
    schema       field-ID schema [{"id", "name"}], or None until the
                 first ALTER initializes tracking
    schemas      role (`data`, `tombstones`) → StructType JSON of the
                 listed dirs, as a footer-merging read infers it: every
                 field nullable, earlier fields first. Recorded for
                 every role that lists dirs, by the one commit helper
                 (`_commit_changes`), from the schemas the dirs were
                 written with; reads and ALTERs take it from here.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DataType, MapType, StructField,
                               StructType)

from ..io import local_frame
from . import index_manifest as idx

_EMPTY = {"dirs": [], "deletes": [], "key": None, "dir_seqs": {},
          "delete_seqs": {}, "dir_parts": {}, "schema": None,
          "schemas": {}}


def _log(base: str) -> idx.ManifestLog:
    return idx.ManifestLog(base, base, 0,
                           lambda m: m["dirs"] + m["deletes"])


def _latest(base: str) -> int:
    return idx.latest_number(base)


def _load_manifest(base: str, version: int) -> dict:
    return {**_EMPTY, **_log(base).load(version)}


def _write_manifest(base: str, man: dict) -> None:
    """Exclusively commit one manifest (`index_manifest.
    create_exclusive`): a concurrent committer racing the same version
    raises `ManifestConflictError` instead of clobbering. Fields a
    hand-written manifest leaves out take their empty defaults."""
    idx.create_exclusive(_log(base).path(man["version"]),
                         {**_EMPTY, **man})


def _prev(base: str, version: int) -> dict:
    """The manifest a commit of `version` builds on (the empty table
    for version 1)."""
    return _load_manifest(base, version - 1) if version > 1 else _EMPTY


def _nullable(dt: DataType) -> DataType:
    """`dt` as a parquet read infers it back: every field, element and
    value nullable."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True,
                                       f.metadata) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


_Written = tuple[list[str], StructType]
_ROLES = (("data", "dirs", "dir_seqs"),
          (idx.TOMBSTONES, "deletes", "delete_seqs"))


def _commit_changes(base: str, prev: dict, version: int, *,
                    data: _Written | None = None,
                    tombstones: _Written | None = None,
                    replaced: list[str] = (),
                    parts: dict[str, str] | None = None,
                    key: str | None = None) -> int:
    """Commit `version` = `prev` with new dirs per role (`data`,
    `tombstones`: the dirs and the schema they were written with)
    added, the data or tombstone dirs in `replaced` removed, new data
    dirs tagged with their partition value from `parts`, and the
    tombstone `key` set when given. The one code that stamps
    sequences and records schemas: each new dir gets sequence
    `version`; a role's recorded schema is the one of its kept dirs
    with the written one merged in (the previous fields, then the new
    ones; a field written again takes its new type), as a
    footer-merging read surfaces them, and a role that lists no dir
    records none. On a table that tracks field IDs, every name the
    written data schema adds gets a fresh id, so reads select it."""
    written = {"data": data, idx.TOMBSTONES: tombstones}
    man = {**prev, "version": version, "key": key or prev["key"],
           "schemas": {},
           "dir_parts": {**{d: p for d, p in prev["dir_parts"].items()
                            if d not in replaced}, **(parts or {})}}
    for role, dirs_key, seqs_key in _ROLES:
        new, schema = written[role] or ([], None)
        kept = [d for d in prev[dirs_key] if d not in replaced]
        man[dirs_key] = kept + new
        man[seqs_key] = {**{d: s for d, s in prev[seqs_key].items()
                            if d not in replaced},
                         **{d: version for d in new}}
        fields = {f.name: f for f in (idx.recorded_schema(prev, role).fields
                                      if kept else [])}
        if new:
            fields.update((f.name, f) for f in _nullable(schema).fields)
        if man[dirs_key]:
            man["schemas"][role] = StructType(list(fields.values())).json()
    if prev["schema"] and data:
        man["schema"] = _with_field_ids(base, prev["schema"], data[1],
                                        version)
    _write_manifest(base, man)
    return version


def _with_field_ids(base: str, fields: list[dict], schema: StructType,
                    version: int) -> list[dict]:
    """`fields` plus a fresh id for each name of `schema` it lacks.
    Fresh means above every id a manifest before `version` assigned: a
    name written again after a DROP must not take the dropped field's
    id, or the dirs written before the drop would read their old
    values under it."""
    names = {f["name"] for f in fields}
    new = [n for n in schema.names if n not in names]
    if not new:
        return fields
    top = max(f["id"] for _, schema_v in _field_schemas(base, version - 1)
              for f in schema_v)
    return fields + [{"id": top + i, "name": n}
                     for i, n in enumerate(new, start=1)]


def _commit(base: str, version: int, new_dir: str,
            schema: StructType) -> int:
    """Append-only commit: manifest v<N> = v<N-1> dirs + the new delta
    dir, stamped with sequence N. `schema` is the frame the delta was
    written from."""
    return _commit_changes(base, _prev(base, version), version,
                           data=([new_dir], schema))


def _commit_frame(base: str, version: int, name: str,
                  df: DataFrame) -> str:
    """Write `df` as the delta dir `<base>/<name>` and `_commit` it as
    `version` with its schema (the fixtures' append). Returns the
    dir."""
    d = os.path.join(base, name)
    df.write.parquet(d)
    _commit(base, version, d, df.schema)
    return d


def _scan(spark: SparkSession, man: dict, dirs: list[str],
          reader: Callable[[object], DataFrameReader] | None = None,
          **kw) -> DataFrame:
    """`index_manifest.read_sequenced` over a snapshot manifest: its
    `deletes` are the tombstones, keyed on `key`, and both read with
    the schemas `man` records (`reader(group)` replaces the data
    reader)."""
    return idx.read_sequenced(
        reader or (lambda _: idx.table_reader(spark, man, "data")),
        dirs, man["deletes"], {**man["dir_seqs"], **man["delete_seqs"]},
        man["key"], lambda: idx.table_reader(spark, man, idx.TOMBSTONES),
        **kw)


def commit_delete(spark: SparkSession, base: str, keys: DataFrame,
                  key_col: str) -> int:
    """MERGE-ON-READ delete (the Iceberg v2 'equality delete file'
    idea): the keys-to-drop are written as a TOMBSTONE parquet dir — no
    data file is rewritten — and the next manifest lists it under
    `deletes`; readers anti-join tombstone keys at scan time. Old
    versions (no tombstone listed) keep returning the rows. Delete cost
    is O(|keys|) regardless of table size — the 100 TB property
    copy-on-write lacks. The tombstone carries the committing version
    as its SEQUENCE — it applies only to data dirs committed earlier,
    so a later re-insert of the key is visible (Iceberg v2 semantics).
    Returns the new version."""
    v = _latest(base) + 1
    tdir = os.path.join(base, f"tombstones_v{v}")
    tomb = keys.select(key_col)
    tomb.write.parquet(tdir)
    return _commit_changes(base, _prev(base, v), v,
                           tombstones=([tdir], tomb.schema), key=key_col)


def commit_append_with_retry(base: str, new_dir: str, schema: StructType,
                             max_retries: int = 8) -> tuple[int, int]:
    """OPTIMISTIC-CONCURRENCY append: `_commit` of the next version
    under `index_manifest.retry_conflicts`. Each attempt re-reads the
    latest version, so two committers racing DISJOINT appends both
    succeed and the serialized history contains both. `schema` is the
    frame `new_dir` was written from. Returns (committed version,
    conflicts retried)."""
    return idx.retry_conflicts(
        lambda: _commit(base, _latest(base) + 1, new_dir, schema),
        max_retries)


def commit_merge_upsert(spark: SparkSession, base: str,
                        updates: DataFrame, key_col: str) -> int:
    """MERGE INTO (upsert) as ONE atomic commit — the write shape every
    CDC-fed lakehouse table needs: the update rows land as a new data
    dir (sequence = v) AND their keys as a tombstone (sequence = v).
    Sequenced semantics make this correct without rewriting anything:
    the tombstone hides the OLD copies of matched keys (their dirs have
    smaller sequences) while the new rows — same sequence, not smaller —
    survive; unmatched keys are plain inserts. Cost is O(|updates|)
    regardless of table size, the merge-on-read property copy-on-write
    MERGE lacks. A key deleted earlier and re-upserted becomes visible
    again (re-insert-after-delete — exactly what unsequenced tombstones
    could not express). The keys are read back from the written dir,
    so `updates` is computed once. Returns the new version."""
    v = _latest(base) + 1
    udir = os.path.join(base, f"upsert_v{v}")
    updates.write.parquet(udir)
    tdir = os.path.join(base, f"tombstones_v{v}")
    tomb = spark.read.schema(_nullable(updates.schema)).parquet(
        udir).select(key_col)
    tomb.write.parquet(tdir)
    return _commit_changes(base, _prev(base, v), v,
                           data=([udir], updates.schema),
                           tombstones=([tdir], tomb.schema), key=key_col)


def compact(spark: SparkSession, base: str) -> int:
    """COMPACTION (merge-on-read → rewritten baseline): materialize the
    current visible rows (deltas merged, tombstones applied) into ONE
    new data directory and commit a manifest that lists only it, with no
    tombstones. Earlier manifests are untouched, so every pre-compaction
    version stays readable — compaction changes the LAYOUT, never
    visible data (the read path asserts this by construction: the new
    manifest's scan is the old manifest's scan, materialized). At scale
    this runs per partition and binpacks small delta files; tombstone
    scans stop paying the anti-join after it. Returns the new version."""
    v = _latest(base) + 1
    cdir = os.path.join(base, f"compacted_v{v}")
    df = read_version(spark, base, v - 1)
    df.write.parquet(cdir)
    prev = _prev(base, v)
    return _commit_changes(base, prev, v, data=([cdir], df.schema),
                           replaced=prev["dirs"] + prev["deletes"])


def commit_append_partitioned(spark: SparkSession, base: str,
                              df: DataFrame, part_col: str) -> int:
    """APPEND laid out by a partition column: one immutable data dir PER
    PARTITION VALUE, recorded in the manifest's `dir_parts` map — the
    file-group granularity partition-scoped maintenance (compaction,
    partition-pruned scans) keys on (Iceberg's partitioned data files as
    spec). The per-value write loop is driver-side over the partition
    cardinality — bounded by construction (partition columns are
    low-cardinality by definition; this is the documented bounded-k
    pattern, same class as the skew hot-key split). Returns the new
    version."""
    import shutil
    from urllib.parse import unquote

    v = _latest(base) + 1
    dirs, parts = [], {}
    # ONE scan + one shuffled-by-value write for ALL partition values
    # (guide §2.4 — the r12 form ran `df.filter(col == val).write` per
    # value: |values| full input scans plus a distinct+collect to even
    # learn the values). `repartition("_p")` pins each value to one
    # task so `partitionBy` emits one file per value; `_p` is a COPY of
    # the partition column, so the data files keep every original
    # column exactly as the per-value writes did. The written partition
    # dirs are then renamed to the manifest's per-value data dirs —
    # same dir-per-value layout, same manifest shape, |values| fewer
    # jobs and scans.
    tmp = os.path.join(base, f"_append_v{v}")
    (df.withColumn("_p", F.col(part_col).cast("string"))
     .repartition("_p")
     .write.partitionBy("_p").parquet(tmp))
    written = sorted((unquote(e.split("=", 1)[1]), e)  # escaped names
                     for e in os.listdir(tmp) if e.startswith("_p="))
    for val, entry in written:
        tag = val.replace("/", "_").replace(" ", "_")
        d = os.path.join(base, f"data_v{v}_p{tag}")
        os.makedirs(d, exist_ok=True)
        src_dir = os.path.join(tmp, entry)
        for f in os.listdir(src_dir):
            if f.endswith(".parquet"):
                shutil.move(os.path.join(src_dir, f), os.path.join(d, f))
        dirs.append(d)
        parts[d] = val
    shutil.rmtree(tmp)
    return _commit_changes(base, _prev(base, v), v, data=(dirs, df.schema),
                           parts=parts)


def compact_partition(spark: SparkSession, base: str,
                      part_value: str) -> int:
    """PARTITION-SCOPED compaction (the 100 TB shape `compact`'s
    docstring promises — r12): materialize the visible rows of ONE
    partition (its dirs merged, applicable SEQUENCED tombstones applied)
    into one fresh data dir and commit a manifest where only that
    partition's dirs are replaced — every other partition's dirs carry
    over untouched (same paths, same sequences), so compaction work is
    proportional to the HOT partition, never the table. Tombstones stay
    listed (they still apply to the untouched dirs) but never to the new
    dir — its sequence is the committing version, above every existing
    tombstone; that sequencing is exactly what makes PARTIAL compaction
    correct without rewriting or splitting delete files. Content is
    unchanged by construction (oracle + pytest pin it); pre-compaction
    versions stay AS-OF readable. Returns the new version."""
    man = _load_manifest(base, _latest(base))
    affected = [d for d in man["dirs"]
                if man["dir_parts"].get(d) == str(part_value)]
    if not affected:
        raise ValueError(f"no data dirs for partition {part_value!r}")
    tag = str(part_value).replace("/", "_").replace(" ", "_")
    cdir = os.path.join(base, f"compacted_v{man['version'] + 1}_p{tag}")
    df = _visible(spark, base, man, affected)
    df.write.parquet(cdir)
    return _commit_changes(base, man, man["version"] + 1,
                           data=([cdir], df.schema), replaced=affected,
                           parts={cdir: str(part_value)})


def _payload_bytes(d: str) -> int:
    """Parquet payload size of one data dir (the binpack size key)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for f in os.listdir(d) if f.endswith(".parquet"))


def compact_binpack(spark: SparkSession, base: str,
                    target_bytes: int) -> int:
    """SIZE-TARGETED compaction (r13 — Iceberg's binpack
    rewrite_data_files shape): rewrite ONLY the data dirs whose parquet
    payload is under `target_bytes` — the small-file debt appends
    accumulate — merging their VISIBLE rows (applicable sequenced
    tombstones applied per group) into one fresh dir; every dir at or
    above the target carries over untouched (same path, same sequence,
    same bytes — pytest pins the byte listing), so steady-state
    maintenance cost is proportional to the small-file debt, never the
    table. The merged dir's sequence is the committing version (above
    every tombstone — the `compact_partition` correctness argument);
    tombstones stay listed for the untouched dirs. Needs >= 2
    undersized dirs to be worth a commit — otherwise returns the
    current version unchanged. Partition tags survive only if every
    rewritten dir shares one value. Returns the (possibly unchanged)
    latest version."""
    man = _load_manifest(base, _latest(base))
    small = [d for d in man["dirs"]
             if _payload_bytes(d) < target_bytes]
    if len(small) < 2:
        return man["version"]
    cdir = os.path.join(base, f"binpack_v{man['version'] + 1}")
    df = _visible(spark, base, man, small)
    df.write.parquet(cdir)
    small_parts = {man["dir_parts"].get(d) for d in small}
    part = small_parts.pop() if len(small_parts) == 1 else None
    return _commit_changes(base, man, man["version"] + 1,
                           data=([cdir], df.schema), replaced=small,
                           parts={cdir: part} if part is not None else {})


def expire_snapshots(base: str, keep_from: int) -> list[str]:
    """SNAPSHOT EXPIRY: `index_manifest.ManifestLog.expire` over the
    table (manifests below `keep_from` dropped, then every data and
    tombstone dir no surviving manifest references), after refusing to
    expire a version a named ref still pins (Iceberg semantics:
    expiring a tagged/branched snapshot would dangle the pointer).
    Returns the removed directories."""
    pinned = {n: r["version"] for n, r in _load_refs(base).items()
              if r["version"] < keep_from}
    if pinned:
        raise ValueError(
            f"refs {sorted(pinned)} pin versions below keep_from="
            f"{keep_from}; drop or move them before expiring")
    return _log(base).expire(keep_from)


def remove_orphans(base: str,
                   older_than_seconds: float = 3 * 86400) -> list[str]:
    """ORPHAN cleanup for the snapshot table: `index_manifest.
    ManifestLog.remove_orphans` (dirs no committed manifest references
    as data or tombstone dir, older than `older_than_seconds`; default
    3 days, Iceberg's remove_orphan_files default). Returns the removed
    dirs."""
    return _log(base).remove_orphans(older_than_seconds)


def read_version(spark: SparkSession, base: str, version: int) -> DataFrame:
    """`AS OF` read: scan exactly the manifest's directory list, then
    anti-join tombstoned keys (merge-on-read — the delete files are
    small, the anti-join keys on the declared key column only).
    SEQUENCED: a tombstone applies only to data dirs with a smaller
    sequence, so dirs are grouped by applicable-tombstone set — each
    group is one multi-dir parquet scan with (at most) one broadcast
    anti-join, and dirs newer than every tombstone scan clean. The
    common shapes collapse to one or two groups: append-only tables
    have none tombstoned; a MERGE's own dir is the lone clean group."""
    man = _load_manifest(base, version)
    return _visible(spark, base, man, man["dirs"])


def _visible(spark: SparkSession, base: str, man: dict,
             dirs: list[str]) -> DataFrame:
    """The rows of `dirs` visible at `man`, under its column names:
    what a read returns and what a compaction rewrites."""
    if man["schema"]:
        return _read_version_evolved(spark, base, man, dirs)
    # commits may EVOLVE the schema (a later delta adds a column —
    # Iceberg add-column semantics): the recorded data schema is the
    # union, so pre-evolution rows read back with NULLs and old files
    # are never rewritten on ADD COLUMN.
    return _scan(spark, man, dirs)


def _field_schemas(base: str, upto: int):
    """(version, field-ID schema) of every surviving manifest up to
    `upto` that carries one, oldest first."""
    for v in range(1, upto + 1):
        try:
            schema = _load_manifest(base, v)["schema"]
        except FileNotFoundError:  # expired
            continue
        if schema:
            yield v, schema


def _read_version_evolved(spark: SparkSession, base: str, man: dict,
                          dirs: list[str]) -> DataFrame:
    """Schema-aware AS-OF read (r13 — Iceberg's field-ID column
    mapping): each data dir's physical column names are the names in
    effect WHEN IT WAS WRITTEN (the schema of the manifest at its
    commit sequence; dirs older than schema tracking resolve via the
    schema-initialization commit, whose names are by construction
    physical). Columns map physical → current by FIELD ID: a renamed
    column's history reads under the new name without any file
    rewrite, a dropped column is simply not selected (hidden, files
    untouched, still visible AS-OF pre-drop), and fields a dir never
    wrote arrive NULL via the union. Tombstones apply per sequence
    group exactly as in the plain path; the write schema is one more
    group key, and each group reads with the data schema recorded at
    its write version."""
    target = man["schema"]
    # the schema-initialization commit: its names ARE the physical
    # column names of every earlier data dir (no rename can precede
    # schema tracking), so older dirs resolve through it. It may follow
    # `man` when `man`'s dirs read under a later version's schema (a
    # change read's source side)
    first_v = next(v for v, _ in _field_schemas(base, _latest(base)))
    cache: dict[int, dict] = {}

    def at(ws_v: int) -> dict:
        if ws_v not in cache:
            cache[ws_v] = _load_manifest(base, ws_v)
        return cache[ws_v]

    def write_version(d: str) -> int:
        return max(man["dir_seqs"][d], first_v)

    def project(df: DataFrame, ws_v: int) -> DataFrame:
        phys = {f["id"]: f["name"] for f in at(ws_v)["schema"]}
        return df.select(*[F.col(phys[f["id"]]).alias(f["name"])
                           for f in target if f["id"] in phys
                           and phys[f["id"]] in df.columns])

    return _scan(spark, man, dirs,
                 lambda ws_v: idx.table_reader(spark, at(ws_v), "data"),
                 group=write_version, project=project)


def _commit_metadata(base: str, man: dict, schema: list[dict]) -> int:
    """Metadata-only commit: next version = same dirs / deletes /
    sequences / partitions, new field-ID schema. O(1) — no data file
    touched; this is what makes RENAME/DROP free at 100 TB."""
    v = man["version"] + 1
    _write_manifest(base, {**man, "version": v, "schema": schema})
    return v


def init_schema_tracking(base: str) -> int:
    """Initialize field-ID schema tracking (idempotent): number the
    names of the recorded data schema in order (earlier commits'
    columns first) as {id, name} fields and commit them as a
    metadata-only version; no data file is opened. The names are the
    physical names of every pre-existing dir — the anchor legacy dirs
    resolve through. Returns the version whose manifest carries the
    schema (the existing one if already initialized)."""
    man = _load_manifest(base, _latest(base))
    if man["schema"]:
        return man["version"]
    names = idx.recorded_schema(man, "data").names if man["dirs"] else []
    schema = [{"id": i + 1, "name": c} for i, c in enumerate(names)]
    return _commit_metadata(base, man, schema)


def alter_rename_column(spark: SparkSession, base: str,
                        old: str, new: str) -> int:
    """RENAME COLUMN as a metadata-only commit (Iceberg semantics via
    field IDs): the field keeps its id, only its name changes, so
    every existing data dir — written under the old name — reads back
    under the new name with its values intact, and AS-OF reads at
    pre-rename versions surface the old name. No file rewritten; a
    name-based emulation would read the history as drop+add and
    silently NULL it. Initializes schema tracking (its own commit) on
    first use. Returns the new version."""
    init_schema_tracking(base)
    man = _load_manifest(base, _latest(base))
    names = [f["name"] for f in man["schema"]]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    schema = [dict(f, name=new) if f["name"] == old else f
              for f in man["schema"]]
    return _commit_metadata(base, man, schema)


def alter_drop_column(spark: SparkSession, base: str, name: str) -> int:
    """DROP COLUMN as a metadata-only commit: the field leaves the
    schema, so reads stop selecting its physical column — data files
    untouched, storage reclaimed only by later compaction, and the
    column is still there AS-OF every pre-drop version. Returns the
    new version."""
    init_schema_tracking(base)
    man = _load_manifest(base, _latest(base))
    names = [f["name"] for f in man["schema"]]
    if name not in names:
        raise ValueError(f"no column {name!r} (have {names})")
    schema = [f for f in man["schema"] if f["name"] != name]
    if not schema:
        raise ValueError("refusing to drop the last column")
    return _commit_metadata(base, man, schema)


def _version_stats(spark: SparkSession, base: str,
                   version: int) -> DataFrame:
    return read_version(spark, base, version).agg(
        F.lit(version).alias("version"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .cast("double").alias("sum_totalprice"),
    ).select("version", "n_rows", "sum_totalprice")


def _build_delete_table(spark: SparkSession, sf_dir: str) -> str:
    """Shared 3-version fixture: v1 = the o_orderkey % 3 != 0 slice,
    v2 = + the remaining slice as a delta dir, v3 = merge-on-read DELETE
    of o_orderkey % 5 == 0 (tombstone dir, no data rewrite)."""
    from ..scratch import process_scratch_dir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = process_scratch_dir("snapdel")
    os.makedirs(base, exist_ok=True)
    _commit_frame(base, 1, "data_v1",
                  orders.filter(F.col("o_orderkey") % 3 != 0))
    _commit_frame(base, 2, "data_v2_delta",
                  orders.filter(F.col("o_orderkey") % 3 == 0))
    commit_delete(spark, base,
                  orders.filter(F.col("o_orderkey") % 5 == 0)
                  .select("o_orderkey"), "o_orderkey")
    return base


def time_travel_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DELETE lifecycle: build v1 (partial), v2 (append), v3
    (merge-on-read delete of the o_orderkey % 5 == 0 keys — a tombstone
    commit, zero data files rewritten), then time-travel-read all three
    and report (version, n_rows, sum_totalprice) each. v1/v2 must return
    their pre-delete contents bit-for-bit (the tombstone is only listed
    from v3 on); v3's scan anti-joins the broadcast tombstone keys.

    100 TB shape: delete cost is O(|deleted keys|) — the tombstone
    write — and read overhead is one broadcast anti-join until
    compaction folds it in; the alternative (copy-on-write) rewrites
    every file containing a hit."""
    base = _build_delete_table(spark, sf_dir)
    out = _version_stats(spark, base, 1)
    for v in (2, 3):
        out = out.unionByName(_version_stats(spark, base, v))
    return out


def compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION on the delete-bearing table: v4 materializes v3's
    visible rows into ONE directory and drops the tombstone from the
    manifest. Output rows for v3 (pre) and v4 (post): the data stats
    MUST be identical (compaction changes layout, not content — the
    oracle pins both rows to the same aggregate) while the manifest
    footprint collapses to one data dir and zero tombstone dirs; v1-v3
    remain readable afterward (pytest-pinned, with expiry semantics)."""
    base = _build_delete_table(spark, sf_dir)
    compact(spark, base)

    def stats(v: int) -> DataFrame:
        man = _load_manifest(base, v)
        return read_version(spark, base, v).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double").alias("sum_totalprice"),
            F.lit(len(man["dirs"])).alias("n_data_dirs"),
            F.lit(len(man["deletes"])).alias("n_tombstone_dirs"),
        ).select("version", "n_rows", "sum_totalprice",
                 "n_data_dirs", "n_tombstone_dirs")

    return stats(3).unionByName(stats(4))


def _load_refs_versioned(base: str) -> tuple[dict, int]:
    """Refs state + the sequence it was read at (the CAS expectation a
    subsequent `_write_refs` must present; 0 = no refs yet)."""
    seq = idx.latest_number(base, "refs.")
    if not seq:
        return {}, 0
    with open(os.path.join(base, f"refs.{seq}.json")) as fh:
        return json.load(fh), seq


def _load_refs(base: str) -> dict:
    return _load_refs_versioned(base)[0]


def _write_refs(base: str, refs: dict, expect_seq: int) -> None:
    """EXCLUSIVE refs commit (`index_manifest.create_exclusive`, as for
    manifests): refs state lives in sequenced refs.<N>.json files; a
    writer commits expect_seq+1, so two ref writers racing the same
    sequence get a loud `ManifestConflictError` instead of
    last-writer-wins silently dropping one update. Losers re-read
    (which picks up the winner's refs) and retry."""
    idx.create_exclusive(os.path.join(base, f"refs.{expect_seq + 1}.json"),
                         refs)


def set_ref(base: str, name: str, version: int,
            kind: str = "tag") -> None:
    """NAMED REFS over snapshot versions (Iceberg branch/tag semantics,
    r12): a `tag` is an immutable pointer (updating one raises — audit
    pins, reproducibility anchors); a `branch` is a movable pointer that
    may only FAST-FORWARD (version must not decrease — the
    write-audit-publish publish step is exactly this move). Refs live in
    exclusively-created refs.<N>.json files beside the manifests
    (`_write_refs`); readers resolve a ref to its version, then read
    that version's manifest — the pointer costs nothing at scan time."""
    if version > _latest(base) or version < 1:
        raise ValueError(f"ref {name!r} targets uncommitted version "
                         f"{version} (latest = {_latest(base)})")
    refs, seq = _load_refs_versioned(base)
    cur = refs.get(name)
    if cur is not None:
        if cur["kind"] == "tag":
            raise ValueError(f"tag {name!r} is immutable "
                             f"(pinned at v{cur['version']})")
        if kind != cur["kind"]:
            raise ValueError(f"ref {name!r} is a {cur['kind']}, "
                             f"not a {kind}")
        if version < cur["version"]:
            raise ValueError(
                f"branch {name!r} may only fast-forward "
                f"(v{cur['version']} → v{version} refused)")
    refs[name] = {"version": version, "kind": kind}
    _write_refs(base, refs, seq)


def rollback_ref(base: str, name: str, version: int) -> None:
    """EXPLICIT branch rollback (Iceberg rollback semantics): move a
    branch BACKWARD to an earlier committed version — the operation
    `set_ref`'s fast-forward guard deliberately refuses, split out so a
    rewind is always a loud, named intent (publish and rollback must
    never be confusable). Tags stay immutable. The `pre_publish` tag in
    the WAP flow is the anchor this points back to."""
    if version > _latest(base) or version < 1:
        raise ValueError(f"rollback of {name!r} targets uncommitted "
                         f"version {version}")
    refs, seq = _load_refs_versioned(base)
    cur = refs.get(name)
    if cur is None:
        raise KeyError(f"unknown ref {name!r}")
    if cur["kind"] == "tag":
        raise ValueError(f"tag {name!r} is immutable")
    refs[name] = {"version": version, "kind": "branch"}
    _write_refs(base, refs, seq)


def read_ref(spark: SparkSession, base: str, name: str) -> DataFrame:
    """Read the table AS OF a named ref. Resolution is eager (the
    returned frame pins the ref's CURRENT version's dirs), so a plan
    captured before a branch moves keeps reading the old version —
    the snapshot-isolation property WAP audits rely on."""
    refs = _load_refs(base)
    if name not in refs:
        raise KeyError(f"unknown ref {name!r}")
    return read_version(spark, base, refs[name]["version"])


def branch_wap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH over named refs (the Iceberg/Netflix WAP
    pattern, r12): the delete fixture's v2 is `main`; the merge-on-read
    delete commit (v3) is staged on a `staging` branch while main still
    serves v2 (writers never publish unaudited data); the AUDIT counts
    %5 == 0 keys visible on staging (must be 0 — the delete did its
    job); publish = fast-forwarding `main` to v3 — a pointer move, zero
    data movement. A `pre_publish` TAG pins v2 immutably for rollback.

    Output: (ref_label, version, n_rows, sum_totalprice, n_bad_keys)
    for main-before-publish (v2 — bad keys still visible), staging
    (v3 — zero bad keys: the audit), and main-after-publish (v3). The
    frames are resolved eagerly at each step, so main_pre keeps v2's
    content even though the branch has moved by the time the driver
    collects — the snapshot-isolation property the oracle pins.

    100 TB shape: publish/rollback are O(1) pointer moves on a single
    refs file; audits run on the staged snapshot without a copy."""
    base = _build_delete_table(spark, sf_dir)
    set_ref(base, "main", 2, kind="branch")
    set_ref(base, "pre_publish", 2, kind="tag")
    set_ref(base, "staging", 3, kind="branch")

    def stats(df: DataFrame, label: str, v: int) -> DataFrame:
        return df.agg(
            F.lit(label).alias("ref_label"),
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double").alias("sum_totalprice"),
            F.sum(F.when(F.col("o_orderkey") % 5 == 0, 1).otherwise(0))
            .cast("bigint").alias("n_bad_keys"),
        ).select("ref_label", "version", "n_rows", "sum_totalprice",
                 "n_bad_keys")

    main_pre = stats(read_ref(spark, base, "main"), "main_pre", 2)
    staging = stats(read_ref(spark, base, "staging"), "staging", 3)
    set_ref(base, "main", 3, kind="branch")  # PUBLISH: fast-forward
    main_post = stats(read_ref(spark, base, "main"), "main_post", 3)
    return main_pre.unionByName(staging).unionByName(main_post)


def partition_compaction_stats(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """PARTITION-SCOPED compaction lifecycle (r12): two partitioned
    appends (orders split %3, laid out by o_orderpriority — one data
    dir per partition value per commit), a merge-on-read DELETE of the
    %5 == 0 keys, then `compact_partition` on the '1-URGENT' partition
    only. Output: (version, scope, n_rows, sum_totalprice,
    n_target_dirs, n_tombstone_dirs) for v3 (pre) and v4 (post), scope
    ∈ {target, rest}. Content MUST be identical across versions (the
    oracle recomputes both from the slice predicates) while the target
    partition's dir count collapses 2 → 1 and every other partition's
    dirs carry over untouched (pytest pins the exact paths).

    100 TB shape: this is how compaction actually runs at scale — per
    hot partition, work proportional to that partition's data; the
    sequenced tombstone (still listed for the untouched dirs, never
    applicable to the fresh dir) is what makes PARTIAL compaction
    correct without rewriting delete files."""
    from ..scratch import process_scratch_dir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = process_scratch_dir("snappart")
    os.makedirs(base, exist_ok=True)
    commit_append_partitioned(
        spark, base, orders.filter(F.col("o_orderkey") % 3 != 0),
        "o_orderpriority")
    commit_append_partitioned(
        spark, base, orders.filter(F.col("o_orderkey") % 3 == 0),
        "o_orderpriority")
    commit_delete(spark, base,
                  orders.filter(F.col("o_orderkey") % 5 == 0)
                  .select("o_orderkey"), "o_orderkey")
    compact_partition(spark, base, "1-URGENT")

    def stats(v: int) -> DataFrame:
        man = _load_manifest(base, v)
        n_target = len([d for d in man["dirs"]
                        if man["dir_parts"].get(d) == "1-URGENT"])
        return (
            read_version(spark, base, v)
            .withColumn("scope",
                        F.when(F.col("o_orderpriority") == "1-URGENT",
                               "target").otherwise("rest"))
            .groupBy("scope")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                 .cast("double").alias("sum_totalprice"))
            .select(F.lit(v).alias("version"), "scope", "n_rows",
                    "sum_totalprice",
                    F.lit(n_target).alias("n_target_dirs"),
                    F.lit(len(man["deletes"]))
                    .alias("n_tombstone_dirs")))

    return stats(3).unionByName(stats(4))


def schema_evolution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on the snapshot table (r12 — the Iceberg
    add-column property: old data files are NEVER rewritten when a
    column is added): v1 commits the o_orderkey % 3 != 0 slice with the
    base schema; the v2 delta carries a NEW `o_channel` column
    (orderkey-parity derived, deterministic). Each commit records the
    union of the schemas its dirs were written with, so v2 surfaces the
    union schema — v1's rows read back with o_channel NULL — while a v1
    read still returns exactly the original columns (AS-OF includes the
    schema).

    Output: (version, n_rows, n_with_channel, sum_totalprice). The
    oracle recomputes from the slice predicates: n_with_channel is 0 at
    v1 (column absent) and the delta row count at v2."""
    from ..scratch import process_scratch_dir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = process_scratch_dir("snapevo2")
    os.makedirs(base, exist_ok=True)
    _commit_frame(base, 1, "data_v1",
                  orders.filter(F.col("o_orderkey") % 3 != 0))
    _commit_frame(base, 2, "data_v2_delta",
                  orders.filter(F.col("o_orderkey") % 3 == 0)
                  .withColumn("o_channel",
                              F.when(F.col("o_orderkey") % 2 == 0, "web")
                              .otherwise("store")))

    def stats(v: int) -> DataFrame:
        df = read_version(spark, base, v)
        has_col = "o_channel" in df.columns
        n_chan = (F.count("o_channel") if has_col
                  else F.lit(0).cast("bigint"))
        return df.agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            n_chan.cast("bigint").alias("n_with_channel"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double").alias("sum_totalprice"),
        ).select("version", "n_rows", "n_with_channel",
                 "sum_totalprice")

    return stats(1).unionByName(stats(2))


def schema_rename_drop_stats(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """RENAME + DROP schema evolution via field IDs (r13 — the two
    operations the r12 add-column-only layer couldn't express without
    reading history as drop+add): v1 = orders %3 != 0 (base schema),
    v2 = the %3 == 0 delta adding `o_channel` (footer-merged add), v3 =
    schema-tracking init (first alter triggers it), v4 = RENAME
    o_totalprice → o_amount, v5 = DROP o_orderpriority, v6 = the
    %7 == 0 slice re-appended WRITTEN UNDER THE CURRENT NAMES (its file
    physically carries o_amount) — so the HEAD read unifies dirs whose
    physical price column is named o_totalprice (seqs 1-2) with one
    named o_amount (seq 6) through the shared field id, and every
    alter was a metadata-only O(1) commit (pytest pins v1's dir
    byte-listing unchanged through all of it).

    Output, for versions 2 / 4 / 5 / 6:
    (version, n_rows, n_cols, value_col, sum_value) where value_col is
    the name the price field carries at that version and sum_value
    sums it — equal across 2/4/5 (rename preserves values), larger at
    6 (the re-appended slice)."""
    from ..scratch import process_scratch_dir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = process_scratch_dir("snapevo3")
    os.makedirs(base, exist_ok=True)
    channel = (F.when(F.col("o_orderkey") % 2 == 0, "web")
               .otherwise("store").alias("o_channel"))
    _commit_frame(base, 1, "data_v1",
                  orders.filter(F.col("o_orderkey") % 3 != 0))
    _commit_frame(base, 2, "data_v2_delta",
                  orders.filter(F.col("o_orderkey") % 3 == 0)
                  .select("*", channel))
    assert alter_rename_column(spark, base, "o_totalprice",
                               "o_amount") == 4  # 3 = init commit
    assert alter_drop_column(spark, base, "o_orderpriority") == 5
    _commit_frame(base, 6, "data_v6_newnames",
                  orders.filter(F.col("o_orderkey") % 7 == 0)
                  .select("o_orderkey", "o_custkey", "o_orderstatus",
                          F.col("o_totalprice").alias("o_amount"),
                          "o_orderdate", channel))

    def stats(v: int) -> DataFrame:
        df = read_version(spark, base, v)
        vc = "o_amount" if "o_amount" in df.columns else "o_totalprice"
        return df.agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.lit(len(df.columns)).alias("n_cols"),
            F.lit(vc).alias("value_col"),
            F.sum(F.col(vc).cast("decimal(30,2)"))
            .cast("double").alias("sum_value"),
        ).select("version", "n_rows", "n_cols", "value_col",
                 "sum_value")

    return (stats(2).unionByName(stats(4)).unionByName(stats(5))
            .unionByName(stats(6)))


def binpack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIZE-TARGETED (binpack) compaction demonstration (r13): v1 =
    the o_orderkey % 3 != 0 bulk (a LARGE dir), v2/v3 = two TINY
    appends (the %3 == 0, %97 ∈ {0,1} slivers — the small-file debt),
    v4 = the remaining %3 == 0 bulk (another large dir), v5 =
    `compact_binpack` with the target set to the v4 dir's payload —
    so exactly the two slivers rewrite into one dir while BOTH large
    dirs carry over untouched (maintenance ∝ small-file debt, the
    Iceberg rewrite_data_files binpack shape; byte-identity of the
    untouched dirs is pytest-pinned).

    Output, for v4 (pre) and v5 (post):
    (version, n_rows, n_data_dirs, sum_totalprice) — rows and sum
    IDENTICAL (compaction changes layout, never content), dir count
    4 → 3."""
    from ..scratch import process_scratch_dir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = process_scratch_dir("snapbinpack")
    os.makedirs(base, exist_ok=True)
    third = F.col("o_orderkey") % 3 == 0
    sliver = F.col("o_orderkey") % 97
    slices = [
        ("data_v1_bulk", ~third),
        ("data_v2_sliver", third & (sliver == 0)),
        ("data_v3_sliver", third & (sliver == 1)),
        ("data_v4_bulk", third & (sliver >= 2)),
    ]
    for i, (name, pred) in enumerate(slices, start=1):
        _commit_frame(base, i, name, orders.filter(pred))
    target = _payload_bytes(os.path.join(base, "data_v4_bulk"))
    v5 = compact_binpack(spark, base, target)
    assert v5 == 5

    def stats(v: int) -> DataFrame:
        man = _load_manifest(base, v)
        return read_version(spark, base, v).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.lit(len(man["dirs"])).alias("n_data_dirs"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double").alias("sum_totalprice"),
        ).select("version", "n_rows", "n_data_dirs", "sum_totalprice")

    return stats(4).unionByName(stats(5))


def time_travel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 2-version snapshot table from orders (v1 = the
    o_orderkey % 3 != 0 slice; v2 = v1 + the remaining slice appended as
    a DELTA dir — v1's files untouched), then time-travel-read BOTH
    versions and report (version, n_rows, sum_totalprice) each — the
    check that old snapshots survive appends bit-for-bit.

    The oracle recomputes both versions from the slice predicates
    directly; any mutation of v1 data during the v2 commit would break
    the v1 row.
    """
    from ..scratch import process_scratch_dir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = process_scratch_dir("snap")
    os.makedirs(base, exist_ok=True)
    _commit_frame(base, 1, "data_v1",
                  orders.filter(F.col("o_orderkey") % 3 != 0))
    _commit_frame(base, 2, "data_v2_delta",
                  orders.filter(F.col("o_orderkey") % 3 == 0))

    def stats(version: int) -> DataFrame:
        return read_version(spark, base, version).agg(
            F.lit(version).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double").alias("sum_totalprice"),
        ).select("version", "n_rows", "sum_totalprice")

    return stats(1).unionByName(stats(2))


def _change_stats(df: DataFrame, v_from: int, v_to: int,
                  kind: str) -> DataFrame:
    return df.agg(
        F.lit(v_from).alias("from_version"),
        F.lit(v_to).alias("to_version"),
        F.lit(kind).alias("change_type"),
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double"), F.lit(0.0)).alias("sum_totalprice"),
    ).select("from_version", "to_version", "change_type", "n_rows",
             "sum_totalprice")


def changes_between(spark: SparkSession, base: str, v_from: int,
                    v_to: int) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL CDC read between two snapshot versions (the Iceberg
    `table_changes` / Delta CDF idea) — and crucially, computed from the
    MANIFEST DIFF, never by comparing table contents: inserted rows are
    read from exactly the data directories the target manifest added
    (anti-joined against its tombstones, in case a row was added and
    deleted within the window), deleted rows are the source version's
    rows matching the newly-added tombstone keys (a broadcast semi-join
    — delete files are small by construction). Work is proportional to
    the CHANGED data plus one keyed lookup, not to table size — the
    property that makes incremental consumers (downstream MVs, sync
    jobs) viable on a 100 TB table where a full-diff would re-scan
    everything. Returns (inserted_df, deleted_df).

    SEQUENCED semantics (Iceberg v2 data-sequence numbers, r11): an
    inserted row is anti-joined only against tombstones whose sequence
    EXCEEDS its dir's — a row added and deleted within the window
    disappears from the insert CDC, while a key deleted in an EARLIER
    version and re-inserted in this window is correctly reported as an
    insert (older deletes never apply to newer files)."""
    m_from = _load_manifest(base, v_from)
    m_to = _load_manifest(base, v_to)
    new_dirs = [d for d in m_to["dirs"] if d not in m_from["dirs"]]
    new_tombs = [d for d in m_to["deletes"] if d not in m_from["deletes"]]
    # When BOTH versions list no data dirs (delete-only commits against
    # a not-yet-loaded table) there is no data schema to borrow — the
    # window's change sets are empty by construction, so return two
    # empty key-column frames.
    if not m_from["dirs"] and not m_to["dirs"]:
        key = m_to["key"] or "key"
        empty = local_frame(spark, [], f"{key} string")
        return empty, empty

    def as_target(man: dict) -> dict:
        # on a table that tracks field IDs, every frame carries the
        # target's column names: `man`'s dirs and tombstones read
        # through its field-ID schema (a field renamed in the window
        # takes its new name, one dropped in it goes)
        return {**man, "schema": m_to["schema"]} if m_to["schema"] else man

    def no_rows() -> DataFrame:
        # the recorded data schema of the source version, or of the
        # target when the source is an EMPTY table with no data dirs yet
        src = m_from if m_from["dirs"] else m_to
        return _visible(spark, base, as_target(src),
                        src["dirs"][:1]).limit(0)

    if new_dirs:
        inserted = _visible(spark, base, m_to, new_dirs)
    else:
        inserted = no_rows()
    if new_tombs:
        keys = idx.table_reader(spark, m_to, idx.TOMBSTONES).parquet(
            *new_tombs)
        deleted = _visible(spark, base, as_target(m_from),
                           m_from["dirs"]).join(F.broadcast(keys),
                                                m_to["key"], "left_semi")
    else:
        deleted = no_rows()
    return inserted, deleted


def merge_upsert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the 3-version delete fixture: v4 upserts every
    o_orderkey % 7 == 0 row with o_totalprice raised by 1000 — one
    atomic commit that UPDATES the live copies (their old rows are
    tombstone-hidden, the new rows survive their own same-sequence
    tombstone) and RE-INSERTS the % 5 == 0 ∩ % 7 == 0 keys deleted at
    v3 (visible again because the v3 tombstone's sequence is below the
    upsert dir's — the case unsequenced tombstones cannot express).

    Output: (version, n_rows, sum_totalprice, n_reinserted) for v3 and
    v4; n_reinserted counts visible % 5 == 0 keys (0 at v3). The oracle
    recomputes both versions from slice predicates; v1..v3 reads are
    covered by the sibling keys and must be unchanged by the upsert."""
    base = _build_delete_table(spark, sf_dir)
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000)
    commit_merge_upsert(spark, base, updates, "o_orderkey")

    def stats(v: int) -> DataFrame:
        return read_version(spark, base, v).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double").alias("sum_totalprice"),
            F.sum(F.when(F.col("o_orderkey") % 5 == 0, 1).otherwise(0))
            .cast("bigint").alias("n_reinserted"),
        ).select("version", "n_rows", "sum_totalprice", "n_reinserted")

    return stats(3).unionByName(stats(4))


def cdc_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-MV maintenance from CDC windows — the
    consumption pattern `changes_between` exists FOR: a downstream
    materialized view (count + revenue per o_orderpriority) bootstraps
    from ONE full scan of v1, then follows the table through the append
    (v2), the merge-on-read delete (v3), and the MERGE upsert (v4 —
    inserts AND deletes in one window) by folding in ONLY each window's
    inserted/deleted rows: MV += agg(inserts) − agg(deletes). Sums ride
    DECIMAL(30,2) so the add/subtract algebra is exact, not float-drift;
    counts are integer.

    Output: the maintained MV at v4 — (o_orderpriority, n_rows,
    sum_totalprice). The oracle computes the v4 aggregate DIRECTLY from
    the slice predicates, so the hash match proves incremental == full
    recompute cross-engine (also pinned engine-side in pytest).

    100 TB shape: per refresh the MV touches the CHANGED rows plus the
    bounded group table — never rescans the corpus; that is the entire
    point of manifest-diff CDC (a full-diff refresh would re-read 100 TB
    per window)."""
    from functools import reduce

    base = _build_delete_table(spark, sf_dir)
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000)
    commit_merge_upsert(spark, base, updates, "o_orderkey")

    def agg_of(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            (F.count("*") * F.lit(sign)).alias("dn"),
            (F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
             * F.lit(sign)).alias("ds"))

    parts = [agg_of(read_version(spark, base, 1), 1)]
    for v_from, v_to in ((1, 2), (2, 3), (3, 4)):
        ins, dels = changes_between(spark, base, v_from, v_to)
        parts.append(agg_of(ins, 1))
        parts.append(agg_of(dels, -1))
    return (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("o_orderpriority")
        .agg(F.sum("dn").alias("n_rows"),
             F.sum("ds").cast("double").alias("sum_totalprice"))
    )


def table_changes_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC read over the 3-version delete fixture: report inserted and
    deleted row stats for the v1→v2 window (an append: inserts = the
    delta slice, zero deletes) and the v2→v3 window (a merge-on-read
    delete: zero inserts, deletes = the tombstoned keys' rows). The
    oracle recomputes all four rows from the slice predicates; any
    full-table rewrite sneaking into a commit would break the window
    attribution."""
    base = _build_delete_table(spark, sf_dir)
    out = None
    for v_from, v_to in ((1, 2), (2, 3)):
        ins, dels = changes_between(spark, base, v_from, v_to)
        for kind, df in (("insert", ins), ("delete", dels)):
            stats = _change_stats(df, v_from, v_to, kind)
            out = stats if out is None else out.unionByName(stats)
    return out


def partition_evolution_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION (Iceberg's hidden-partitioning property):
    v1 of the snapshot table was written UNPARTITIONED; the v2 delta is
    laid out by a month() TRANSFORM of o_orderdate. Readers apply one
    logical predicate (a month filter); on the evolved delta it becomes
    a PARTITION filter (directory pruning — the scan never opens other
    months' files, plan-asserted), on the legacy dir a data filter.
    Old data is NEVER rewritten when the spec changes — at 100 TB,
    re-laying-out history to change a partition scheme is exactly the
    migration this mechanism exists to avoid.

    Output: (layout, n_rows, sum_totalprice) for the legacy scan, the
    pruned evolved scan, and the combined table, for one month."""
    from ..scratch import process_scratch_dir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = process_scratch_dir("snapevo")
    os.makedirs(base, exist_ok=True)
    v1_dir = _commit_frame(base, 1, "data_v1",
                           orders.filter(F.col("o_orderkey") % 3 != 0))
    delta_dir = os.path.join(base, "data_v2_delta")
    delta = (orders.filter(F.col("o_orderkey") % 3 == 0)
             .withColumn("o_month",
                         F.date_format("o_orderdate", "yyyy-MM")))
    delta.write.partitionBy("o_month").parquet(delta_dir)
    _commit(base, 2, delta_dir, delta.schema)

    month = "1997-06"
    legacy = (
        spark.read.parquet(v1_dir)
        .filter(F.date_format("o_orderdate", "yyyy-MM") == month))
    evolved = (
        spark.read.parquet(delta_dir)
        .filter(F.col("o_month") == month))

    def stats(df: DataFrame, layout: str) -> DataFrame:
        return df.agg(
            F.lit(layout).alias("layout"),
            F.count("*").alias("n_rows"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                .cast("double"), F.lit(0.0)).alias("sum_totalprice"),
        ).select("layout", "n_rows", "sum_totalprice")

    combined = legacy.select("o_orderkey", "o_totalprice").unionByName(
        evolved.select("o_orderkey", "o_totalprice"))
    return (stats(legacy, "legacy_unpartitioned")
            .unionByName(stats(evolved, "evolved_partitioned"))
            .unionByName(stats(combined, "combined")))
