"""Dump the manifests one fixed op sequence leaves on disk.

Runs a fixed sequence over both manifest families — a snapshot table
(appends, partitioned append, delete, merge upsert, partition and
binpack compaction, refs, rename/drop, full compaction, orphan removal,
expiry), the LSH dedup index and the IVF-PQ index (build, add-batch,
delete, re-add, compact, expiry, orphan removal) — under ROOT, then
writes every `v*.json`, `manifest/v*.json` and `refs.*.json` it saw
(recorded before each expiry too), parsed, plus the surviving dir
names, to OUT as one JSON object.

Same-files-on-disk check for a change to the manifest core: run it
once against each checkout with the same ROOT and compare the outputs.

    python tools/manifest_dump.py --repo <checkout> SF_DIR ROOT OUT
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose hive_nexr_spark runs the sequence")
    ap.add_argument("sf_dir", help="test data dir (orders, documents, "
                    "embeddings parquet)")
    ap.add_argument("root", help="scratch root; deleted and recreated")
    ap.add_argument("out", help="JSON output file")
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    from hive_nexr_spark.datapipe import dedup, similarity
    from hive_nexr_spark.queries.base import ensure_views
    from hive_nexr_spark.session import get_session
    from hive_nexr_spark.sources import index_manifest as idx
    from hive_nexr_spark.sources import snapshots as sn
    from pyspark.sql import functions as F

    root = args.root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    spark = get_session(app_name="manifest-dump", shuffle_partitions=4)
    dfs = ensure_views(spark, args.sf_dir)
    orders = dfs["orders"]
    dump: dict = {}

    def record() -> None:
        for pat in ("*/v*.json", "*/manifest/v*.json", "*/refs.*.json"):
            for p in sorted(glob.glob(os.path.join(root, pat))):
                with open(p) as fh:
                    dump[os.path.relpath(p, root)] = json.load(fh)

    t = os.path.join(root, "table")
    os.makedirs(t)
    d1, d2 = os.path.join(t, "data_v1"), os.path.join(t, "data_v2")
    orders.filter("o_orderkey % 3 != 0").write.parquet(d1)
    sn._commit(t, 1, d1, orders.schema)
    orders.filter("o_orderkey % 3 = 0").write.parquet(d2)
    sn.commit_append_with_retry(t, d2, orders.schema)
    sn.commit_append_partitioned(spark, t, orders.filter("o_orderkey % 7 = 0"),
                                 "o_orderpriority")
    sn.commit_delete(spark, t, orders.filter("o_orderkey % 5 = 0")
                     .select("o_orderkey"), "o_orderkey")
    sn.commit_merge_upsert(
        spark, t, orders.filter("o_orderkey % 11 = 0")
        .withColumn("o_totalprice", F.col("o_totalprice") + 1),
        "o_orderkey")
    sn.compact_partition(spark, t, "1-URGENT")
    sn.compact_binpack(spark, t, 10 ** 9)
    sn.set_ref(t, "main", 3, kind="branch")
    sn.set_ref(t, "pin", 2, kind="tag")
    sn.set_ref(t, "main", 6, kind="branch")
    sn.rollback_ref(t, "main", 4)
    sn.alter_rename_column(spark, t, "o_totalprice", "o_amount")
    sn.alter_drop_column(spark, t, "o_orderstatus")
    sn.compact(spark, t)
    os.makedirs(os.path.join(t, "data_crashed"))
    sn.remove_orphans(t, 0)
    t2 = os.path.join(root, "table2")
    os.makedirs(t2)
    for v in (1, 2, 3):
        d = os.path.join(t2, f"data_v{v}")
        orders.filter(f"o_orderkey % 3 = {v - 1}").write.parquet(d)
        sn._commit(t2, v, d, orders.schema)
    sn.compact(spark, t2)
    record()
    sn.expire_snapshots(t2, 4)

    docs = dedup._bounded_corpus(dfs["documents"], 200)
    lsh = os.path.join(root, "lsh")
    dedup.lsh_index_build(dfs["documents"], lsh)
    dedup.lsh_index_add_batch(spark, lsh, docs.filter("doc_id >= 100000"))
    dedup.lsh_index_delete(spark, lsh, docs.filter("doc_id % 4 = 0")
                           .select("doc_id"))
    dedup.lsh_index_add_batch(spark, lsh, docs.filter("doc_id % 8 = 0"))
    dedup.lsh_index_compact(spark, lsh)
    idx.append_with_retry(lsh, {"bands": []})
    record()
    idx.expire_versions(lsh, 5)
    os.makedirs(os.path.join(lsh, "bands_crashed"))
    idx.remove_orphans(lsh, 0)

    emb = dfs["embeddings"]
    ivf = os.path.join(root, "ivf")
    similarity.ivf_pq_build_index(
        emb.filter("vec_id % 2 = 0 or vec_id < 10"), ivf)
    similarity.ivf_pq_add_batch(spark, ivf, emb.filter("vec_id % 2 = 1"))
    similarity.ivf_pq_delete(spark, ivf, emb.filter("vec_id % 4 = 0")
                             .select("vec_id"))
    similarity.ivf_pq_add_batch(spark, ivf, emb.filter("vec_id % 8 = 0"))
    similarity.ivf_pq_compact(spark, ivf)
    record()
    idx.expire_versions(ivf, 5)

    record()
    dump["_dirs"] = sorted(os.path.relpath(p, root) for p in
                           glob.glob(os.path.join(root, "*", "*"))
                           if os.path.isdir(p))
    with open(args.out, "w") as fh:
        json.dump(dump, fh, indent=1, sort_keys=True)
    print(f"{len(dump) - 1} manifest/refs files, {len(dump['_dirs'])} dirs")
    spark.stop()


if __name__ == "__main__":
    main()
