"""Model-based check of both manifest families: snapshot tables
(`sources/snapshots.py`) and index roots (`sources/index_manifest.py`).

Seeded random op sequences run on tiny `createDataFrame` rows. After
every op, HEAD and every surviving earlier version (AS-OF) must equal a
pure-Python model: a dict version -> Counter of visible rows. Expired
versions must raise FileNotFoundError, named refs must match the
model's refs, and every manifest on disk must keep its exact key set
and file-name pattern (the format pin)."""

from __future__ import annotations

import json
import os
import random
import re
from collections import Counter
from functools import reduce

import pytest

SEEDS = (1, 2, 3)
N_OPS = 25
N_KEYS = 12

SNAPSHOT_KEYS = {"version", "dirs", "deletes", "key", "dir_seqs",
                 "delete_seqs", "dir_parts", "schema", "schemas"}
INDEX_KEYS = {"version", "params", "tables", "seqs", "schemas"}


def _rows(rng: random.Random) -> list[tuple]:
    return [(rng.randrange(N_KEYS), rng.choice("abc"), rng.randrange(1000))
            for _ in range(rng.randint(1, 4))]


def _without(live: Counter, keys) -> Counter:
    return Counter({r: n for r, n in live.items() if r[0] not in keys})


def _fingerprint(manifest: str, dirs) -> tuple:
    """The manifest text plus (path, size, mtime) of every file under
    the dirs it lists: a version's read result is a function of these
    alone, so an unchanged fingerprint needs no re-read."""
    with open(manifest) as fh:
        text = fh.read()
    files = []
    for d in dirs:
        for dp, _, names in os.walk(d):
            for n in names:
                st = os.stat(os.path.join(dp, n))
                files.append((os.path.join(dp, n), st.st_size,
                              st.st_mtime_ns))
    return text, tuple(sorted(files))


def _check_versions(spark, model: dict, read, fingerprint, seen: dict,
                    cols: list[str]) -> None:
    """Compare every surviving version with the model in one collect.
    Versions whose fingerprint is unchanged since they last matched are
    skipped; any file or manifest change forces a re-read."""
    from pyspark.sql import functions as F

    fps = {v: fingerprint(v) for v in model}
    stale = [v for v in model if seen.get(v) != fps[v]]
    if not stale:
        return
    frames = [read(v).select(F.lit(v).alias("_v"), *cols) for v in stale]
    got: dict[int, Counter] = {v: Counter() for v in stale}
    for r in reduce(lambda a, b: a.unionByName(b), frames).collect():
        got[r[0]][tuple(r[1:])] += 1
    assert got == {v: model[v] for v in stale}
    seen.update((v, fps[v]) for v in stale)


def _expect_raises(exc, fn, *args, **kw):
    with pytest.raises(exc):
        fn(*args, **kw)


@pytest.mark.parametrize("seed", SEEDS)
def test_snapshot_table_matches_model(spark, tmp_path, seed):
    from pyspark.sql.types import StructType

    from hive_nexr_spark.sources import snapshots as sn

    rng = random.Random(seed)
    base = str(tmp_path / "table")
    os.makedirs(base)
    schema = "k bigint, p string, x bigint"
    model: dict[int, Counter] = {}
    expired: set[int] = set()
    seen: dict[int, tuple] = {}
    refs: dict[str, dict] = {}
    schema_checked: set[str] = set()

    def man_dirs(man: dict) -> list[str]:
        return man["dirs"] + man["deletes"]

    ops = ("append", "append_partitioned", "delete", "merge_upsert",
           "compact", "compact_partition", "compact_binpack", "ref",
           "expire", "orphans")
    for i in range(N_OPS):
        op = "append" if i == 0 else rng.choice(ops)
        head = max(model, default=0)
        live = model.get(head, Counter())
        if op == "append":
            rows = _rows(rng)
            d = os.path.join(base, f"data_m{i}")
            df = spark.createDataFrame(rows, schema)
            df.write.parquet(d)
            v, retried = sn.commit_append_with_retry(base, d, df.schema)
            assert retried == 0
            model[v] = live + Counter(rows)
        elif op == "append_partitioned":
            rows = _rows(rng)
            v = sn.commit_append_partitioned(
                spark, base, spark.createDataFrame(rows, schema), "p")
            model[v] = live + Counter(rows)
        elif op == "delete":
            keys = rng.sample(range(N_KEYS), rng.randint(1, 3))
            v = sn.commit_delete(
                spark, base,
                spark.createDataFrame([(k,) for k in keys], "k bigint"), "k")
            model[v] = _without(live, keys)
        elif op == "merge_upsert":
            rows = _rows(rng)
            v = sn.commit_merge_upsert(
                spark, base, spark.createDataFrame(rows, schema), "k")
            model[v] = _without(live, {r[0] for r in rows}) + Counter(rows)
        elif op == "compact":
            v = sn.compact(spark, base)
            model[v] = live
        elif op == "compact_partition":
            man = sn._load_manifest(base, head)
            parts = sorted(set(man["dir_parts"].values()))
            if not parts:
                _expect_raises(ValueError, sn.compact_partition,
                               spark, base, "a")
                continue
            v = sn.compact_partition(spark, base, rng.choice(parts))
            model[v] = live
        elif op == "compact_binpack":
            man = sn._load_manifest(base, head)
            sizes = [sn._payload_bytes(d) for d in man["dirs"]]
            target = rng.choice(sizes) + rng.randint(0, 1)
            n_small = sum(s < target for s in sizes)
            v = sn.compact_binpack(spark, base, target)
            assert v == (head + 1 if n_small >= 2 else head)
            model[v] = live
        elif op == "ref":
            name = rng.choice(("main", "dev", "audit"))
            target = rng.choice(sorted(model))
            cur = refs.get(name)
            if rng.random() < 0.3:
                if cur is None:
                    _expect_raises(KeyError, sn.rollback_ref,
                                   base, name, target)
                elif cur["kind"] == "tag":
                    _expect_raises(ValueError, sn.rollback_ref,
                                   base, name, target)
                else:
                    sn.rollback_ref(base, name, target)
                    refs[name] = {"version": target, "kind": "branch"}
            else:
                kind = "tag" if name == "audit" else "branch"
                if cur is not None and (cur["kind"] == "tag"
                                        or target < cur["version"]):
                    _expect_raises(ValueError, sn.set_ref,
                                   base, name, target, kind=kind)
                else:
                    sn.set_ref(base, name, target, kind=kind)
                    refs[name] = {"version": target, "kind": kind}
            assert sn._load_refs(base) == refs
            if name in refs:
                got = Counter(tuple(r) for r in sn.read_ref(
                    spark, base, name).select("k", "p", "x").collect())
                assert got == model[refs[name]["version"]]
        elif op == "expire":
            keep_from = rng.randint(min(model), head)
            if any(r["version"] < keep_from for r in refs.values()):
                _expect_raises(ValueError, sn.expire_snapshots,
                               base, keep_from)
            else:
                sn.expire_snapshots(base, keep_from)
                for v in [v for v in model if v < keep_from]:
                    expired.add(v)
                    del model[v]
            _expect_raises(ValueError, sn.expire_snapshots, base, head + 1)
        elif op == "orphans":
            orphan = os.path.join(base, f"data_crashed_{i}")
            spark.createDataFrame(_rows(rng), schema).write.parquet(orphan)
            assert sn.remove_orphans(base) == []  # fresh: maybe in flight
            assert sn.remove_orphans(base, older_than_seconds=0) == [orphan]

        _check_versions(spark, model,
                        lambda v: sn.read_version(spark, base, v),
                        lambda v: _fingerprint(
                            os.path.join(base, f"v{v}.json"),
                            man_dirs(sn._load_manifest(base, v))),
                        seen, ["k", "p", "x"])
        for v in expired:
            _expect_raises(FileNotFoundError, sn.read_version,
                           spark, base, v)
        names = sorted(os.listdir(base))
        assert [f for f in names if ".tmp" in f] == []
        manifests = [f for f in names if re.fullmatch(r"v\d+\.json", f)]
        assert sorted(int(f[1:-5]) for f in manifests) == sorted(model)
        for f in manifests:
            with open(os.path.join(base, f)) as fh:
                man = json.load(fh)
            assert set(man) == SNAPSHOT_KEYS and f == f"v{man['version']}.json"
            if f in schema_checked:  # manifests are final
                continue
            for role, dirs in (("data", man["dirs"]),
                               ("tombstones", man["deletes"])):
                if not dirs:
                    assert role not in man["schemas"], (f, role)
                    continue
                assert StructType.fromJson(json.loads(
                    man["schemas"][role])) == (
                    spark.read.option("mergeSchema", "true")
                    .parquet(*dirs).schema), (f, role)
            schema_checked.add(f)
        ref_files = [f for f in names if f.startswith("refs")]
        assert all(re.fullmatch(r"refs\.\d+\.json", f) for f in ref_files)


@pytest.mark.parametrize("seed", SEEDS)
def test_index_root_matches_model(spark, tmp_path, seed):
    from hive_nexr_spark.datapipe import dedup
    from hive_nexr_spark.sources import index_manifest as idx

    rng = random.Random(seed)
    root = str(tmp_path / "index")
    schema = "doc_id bigint, x bigint"
    tables = ("shingles", "bands")
    model: dict[int, Counter] = {}
    expired: set[int] = set()
    seen: dict[str, dict] = {t: {} for t in tables}

    def write(rows, tag) -> tuple[dict, dict]:
        df = spark.createDataFrame(rows, schema)
        dirs = {}
        for t in tables:
            dirs[t] = [idx.new_data_dir(root, t, tag)]
            df.write.parquet(dirs[t][0])
        return dirs, {t: df.schema.json() for t in tables}

    ops = ("commit", "append", "append_retry", "tombstone", "compact",
           "expire", "orphans")
    for i in range(N_OPS):
        op = "commit" if i == 0 else rng.choice(ops)
        head = idx.latest_version(root)
        live = model.get(head, Counter())
        rows = [(k, x) for k, _, x in _rows(rng)]
        if op == "commit":  # full visibility map: replaces every table
            dirs, schemas = write(rows, f"m{i:05d}")
            v = idx.commit_manifest(root, {"seed": seed}, dirs, schemas,
                                    base_version=head)
            model[v] = Counter(rows)
        elif op == "append":
            v = idx.append_table_dirs(root, write(rows, f"m{i:05d}")[0])
            model[v] = live + Counter(rows)
        elif op == "append_retry":
            v, retried = idx.append_with_retry(
                root, write(rows, f"m{i:05d}")[0])
            assert retried == 0
            model[v] = live + Counter(rows)
        elif op == "tombstone":
            keys = rng.sample(range(N_KEYS), rng.randint(1, 3))
            v = dedup.lsh_index_delete(
                spark, root,
                spark.createDataFrame([(k,) for k in keys], "doc_id bigint"))
            model[v] = _without(live, keys)
        elif op == "compact":
            v = dedup.lsh_index_compact(spark, root)
            assert "tombstones" not in idx.read_manifest(root, v)["tables"]
            model[v] = live
        elif op == "expire":
            keep_from = rng.randint(min(model), head)
            idx.expire_versions(root, keep_from)
            for v in [v for v in model if v < keep_from]:
                expired.add(v)
                del model[v]
            _expect_raises(ValueError, idx.expire_versions, root, head + 1)
        elif op == "orphans":
            orphan = idx.new_data_dir(root, "bands", f"crashed{i:05d}")
            spark.createDataFrame(rows, schema).write.parquet(orphan)
            assert idx.remove_orphans(root) == []  # fresh: maybe in flight
            assert idx.remove_orphans(root, older_than_seconds=0) == [orphan]
        assert idx.latest_version(root) == max(model)

        for t in tables:
            _check_versions(
                spark, model,
                lambda v, t=t: idx.scan_sequenced(
                    spark, idx.read_manifest(root, v), t, "doc_id"),
                lambda v: _fingerprint(
                    os.path.join(root, "manifest", f"v{v:05d}.json"),
                    [d for ds in idx.read_manifest(root, v)["tables"]
                     .values() for d in ds]),
                seen[t], ["doc_id", "x"])
        for v in expired:
            _expect_raises(FileNotFoundError, idx.read_manifest, root, v)
        names = sorted(os.listdir(os.path.join(root, "manifest")))
        assert [f for f in names if ".tmp" in f] == []
        assert sorted(int(f[1:-5]) for f in names) == sorted(model)
        for f in names:
            with open(os.path.join(root, "manifest", f)) as fh:
                man = json.load(fh)
            assert set(man) == INDEX_KEYS
            assert f == f"v{man['version']:05d}.json"
            assert set(man["seqs"]) == {d for ds in man["tables"].values()
                                        for d in ds}
