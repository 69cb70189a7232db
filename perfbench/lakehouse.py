"""`lakehouse_ingest`: writes beside reads on one `sources/snapshots`
table, a persisted LSH dedup index and a persisted IVF-PQ vector index,
plus one streaming ingest and a short batch pass of datapipe keys.

The seed fixes one operation sequence. Table writes are partitioned
appends of orders slices, deletes, merge-upserts and periodic partition
and full compactions; table reads are the latest version, an older
version and the change set between two versions. One
`stream_dedup_ingest` call gates the planted-duplicate arrival stream
against the persisted LSH index it builds; that index then takes an add,
a delete, a compaction and a query. The IVF-PQ index is built before the
clock starts and then takes an add, a delete and a query, in that order.
A datapipe key runs after the table round, and the sequence ends with
snapshot expiry and orphan removal. Before the clock starts, the table
operations also run once on a separate warm-up table, so the timed phase
does not pay their first-use compilation; the index, stream and datapipe
operations pay theirs, as a one-shot job would.

Table reads and LSH queries are checked against a pure-Python model of
the sequence; IVF-PQ queries, the stream's decisions and the datapipe
keys against the repository's DuckDB oracles over the same parquet.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from statistics import median

from common import dir_bytes, row_sets_equal, run_beside

SLICE = 300            # orders rows per append
N_DELETE = 10          # keys per delete
N_UPSERT = (6, 4)      # (updated, inserted) keys per upsert
NEW_KEY0 = 10_000_000  # inserted keys live above every orders key
# Reads cost a fraction of a write here; a round reads after each write
# so that one round holds enough read samples for a p90.
ROUND = ("append", "read", "delete", "time_travel", "upsert", "changes",
         "read", "time_travel")
SECONDS_PER_ROUND = 20.0  # one round at --seconds 20, with the index,
                          # stream and datapipe operations besides
# stream_dedup_ingest builds its LSH index on documents 0-199 and brings
# in documents 200-249 and planted duplicates; the LSH operations after it
# work on that index and add documents from 250 on.
LSH_BUILD_DOCS, LSH_ADD_FROM, DOC_BATCH = 200, 250, 50
EXACT, NEAR = 100_000, 200_000  # planted duplicate ids: doc_id + these
THRESHOLD = 0.5
N_IVF_QUERIES = 10  # vec_id < 10 are the IVF-PQ query vectors
# the index is built on the queries and the even vec_ids; the add brings
# in the odd ones (the repository oracle's add-batch split)
IVF_BUILD_PRED = "vec_id < 10 OR vec_id % 2 = 0"
DATAPIPE_KEYS = ("dedup_minhash_lsh_full",)
BUILDS = ("ivf_build",)  # run before the clock starts
LSH_OPS = ("lsh_add", "lsh_delete", "lsh_query", "lsh_compact")
IVF_OPS = ("ivf_add", "ivf_delete", "ivf_query")  # in this order
WRITES = {"append", "delete", "upsert", "compact", "compact_partition",
          "expire", "orphans", "lsh_add", "lsh_delete",
          "lsh_compact", "ivf_build", "ivf_add", "ivf_delete",
          "stream_ingest"}
READS = {"read", "time_travel", "changes", "lsh_query", "ivf_query"}
ORACLED = ("ivf_query", "stream_ingest", "datapipe")  # DuckDB-checked
TABLE_WRITES = ("append", "delete", "upsert", "compact", "compact_partition")
STREAM_DURATIONS = ("addBatch", "walCommit", "queryPlanning", "getBatch")


def make_ops(seed: int, rounds: int) -> list[dict]:
    """The seed's operation list. Each op carries every argument it
    needs, so running it never consults a random source."""
    rng = random.Random(f"lake:{seed}")
    ops: list[dict] = [{"kind": k} for k in BUILDS]
    st = {"version": 0, "live": set(), "slice": 0, "new_key": NEW_KEY0,
          "last_compact": 0, "appended": False, "doc_next": LSH_ADD_FROM,
          "docs": set(range(LSH_BUILD_DOCS)), "deleted_docs": set(),
          "ivf_deleted": None}

    def table_op(kind: str) -> dict:
        if kind == "append":
            lo = st["slice"] * SLICE
            st["slice"] += 1
            st["live"] |= set(range(lo, lo + SLICE))
            st["appended"] = True
            op = {"kind": "append", "lo": lo, "hi": lo + SLICE}
        elif kind == "delete":
            keys = rng.sample(sorted(st["live"]), N_DELETE)
            st["live"] -= set(keys)
            op = {"kind": "delete", "keys": keys}
        elif kind == "upsert":
            old = rng.sample(sorted(st["live"]), N_UPSERT[0])
            new = list(range(st["new_key"], st["new_key"] + N_UPSERT[1]))
            st["new_key"] += N_UPSERT[1]
            st["live"] |= set(new)
            op = {"kind": "upsert",
                  "rows": [(k, rng.randrange(1, 10_000)) for k in old]
                  + [(k, rng.randrange(100_000, 50_000_000)) for k in new],
                  "template": rng.randrange(15000)}
        elif kind == "compact_partition":
            op = {"kind": kind, "part": rng.choice(("F", "O"))}
        elif kind == "compact":
            op = {"kind": kind}
        elif kind == "read":
            return {"kind": "read", "version": st["version"]}
        elif kind == "time_travel":
            return {"kind": kind,
                    "version": rng.randrange(1, st["version"])}
        elif kind == "changes":
            b = st["version"]
            a = max(st["last_compact"], b - 3)
            if a >= b:
                return {"kind": "read", "version": b}
            return {"kind": "changes", "from": a, "to": b}
        else:
            raise ValueError(kind)
        st["version"] += 1
        if kind in ("compact", "compact_partition"):
            st["last_compact"] = st["version"]
        if kind == "compact":
            st["appended"] = False
        return op

    def index_op(kind: str) -> dict:
        if kind == "lsh_add":
            lo = st["doc_next"]
            st["doc_next"] += DOC_BATCH
            st["docs"] |= set(range(lo, lo + DOC_BATCH))
            return {"kind": kind, "lo": lo, "hi": lo + DOC_BATCH}
        if kind == "lsh_delete":
            ids = rng.sample(sorted(st["docs"]), 5)
            st["docs"] -= set(ids)
            st["deleted_docs"] |= set(ids)
            return {"kind": kind, "ids": ids}
        if kind == "lsh_query":
            probes = rng.sample(sorted(st["docs"]), 4) + rng.sample(
                range(450, 500), 2) + rng.sample(
                sorted(st["deleted_docs"]), min(2, len(st["deleted_docs"])))
            return {"kind": kind, "ids": sorted(set(probes))}
        if kind == "ivf_delete":
            m = rng.randrange(5, 10)
            st["ivf_deleted"] = (m, rng.randrange(m))
            return {"kind": kind, "mod": m, "rem": st["ivf_deleted"][1]}
        elif kind == "ivf_query":
            return {"kind": kind, "deleted": st["ivf_deleted"]}
        return {"kind": kind}

    ops.append(table_op("append"))
    lsh = list(LSH_OPS)
    rng.shuffle(lsh)
    # the LSH ops work on the stream's index, so they come after it; the
    # IVF-PQ ops keep their order, at seeded places among the others
    others = ["stream_ingest"] + lsh
    n = len(others) + len(IVF_OPS)
    at = set(rng.sample(range(n), len(IVF_OPS)))
    ivf, rest = iter(IVF_OPS), iter(others)
    index_plan = [next(ivf) if i in at else next(rest) for i in range(n)]
    slots = sorted(rng.sample(range(rounds * len(ROUND)),
                              min(n, rounds * len(ROUND))))
    pos = 0
    for r in range(rounds):
        kinds = list(ROUND)
        if r % 2 == 0 and st["appended"]:
            kinds.append("compact_partition")
        if r == rounds - 1:
            kinds.append("compact")
        for kind in kinds:
            while slots and slots[0] == pos:
                slots.pop(0)
                ops.append(index_op(index_plan.pop(0)))
            ops.append(table_op(kind))
            pos += 1
    while index_plan:
        ops.append(index_op(index_plan.pop(0)))
    ops += [{"kind": "datapipe", "key": k} for k in DATAPIPE_KEYS]
    keep = max(1, st["version"] - 2)
    ops += [{"kind": "expire", "keep_from": keep}, {"kind": "orphans"},
            {"kind": "read", "version": st["version"]},
            {"kind": "time_travel", "version": keep}]
    for i, op in enumerate(ops):
        op["id"] = f"l{i}"
    return ops


# The table operations whose first call compiles much more than later
# ones do, on a table of its own. (A compaction's first call costs about
# what later ones do.)
WARMUP = [
    {"kind": "append", "lo": 0, "hi": SLICE},                       # v1
    {"kind": "delete", "keys": list(range(0, 2 * N_DELETE, 2))},    # v2
    {"kind": "upsert", "rows": [(1, 100), (NEW_KEY0, 200)],
     "template": 0},                                                # v3
    {"kind": "changes", "from": 1, "to": 3},
]
for _i, _op in enumerate(WARMUP):
    _op["id"] = f"warm{_i}"


def oracle_sql(op: dict) -> str:
    """DuckDB SQL for the rows an oracle-checked operation must return."""
    from hive_nexr_spark.queries import datapipe_q, streaming_q

    k = op["kind"]
    if k == "datapipe":
        return datapipe_q.ORACLE[op["key"]]
    if k == "stream_ingest":
        return streaming_q.ORACLE["dedup_stream_ingest_gate"]
    if k == "ivf_query":  # after the add, and the delete if any
        visible = None
        if op["deleted"]:
            m, r = op["deleted"]
            visible = (f"NOT (co.vec_id >= {N_IVF_QUERIES} "
                       f"AND co.vec_id % {m} = {r})")
        return datapipe_q._ivf_pq_residual_sql(
            n_queries=N_IVF_QUERIES, train_pred=IVF_BUILD_PRED,
            visible_pred=visible)
    raise ValueError(k)


class Oracle:
    """DuckDB over the run's parquet, for the oracle-checked operations.
    One DuckDB thread: it runs beside the Spark work of the prepare
    phase."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect(config={"threads": 1})
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        return [d[0].lower() for d in cur.description], cur.fetchall()

    def close(self) -> None:
        self.con.close()


def mismatch(expected: tuple[list[str], list[tuple]], rows: list,
             cols: list[str]) -> str | None:
    """None when `rows` (columns `cols`) equal the oracle's rows as a set;
    else what differs. Columns match by name, in any order."""
    names, want = expected
    cols = [c.lower() for c in cols]
    if sorted(cols) != sorted(names):
        return f"columns {cols}, oracle {names}"
    idx = [names.index(c) for c in cols]
    want = [tuple(w[i] for i in idx) for w in want]
    if not row_sets_equal(rows, want):
        return f"{len(rows)} rows differ from the oracle's {len(want)}"
    return None


class StreamProgress:
    """Sums the progress events of every streaming query the session runs
    while it is attached (traced runs only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer._progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer._terminated.set()

        self.spark = spark
        self.batches = self.input_rows = 0
        self.ms = dict.fromkeys(STREAM_DURATIONS, 0)
        self._terminated = threading.Event()
        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def _progress(self, p) -> None:
        self.batches += 1
        self.input_rows += p.numInputRows
        for k in STREAM_DURATIONS:
            self.ms[k] += p.durationMs.get(k, 0)

    def wait_terminated(self) -> None:
        """Block until the last query's termination event arrives, so its
        progress events are all counted."""
        if not self._terminated.wait(60):
            raise RuntimeError("no termination event from the stream")
        self._terminated.clear()

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def metrics(self) -> dict[str, float]:
        if not self.batches:
            raise RuntimeError("no streaming progress event was received")
        return {"streaming.batches": self.batches,
                "streaming.input_rows": self.input_rows,
                **{f"streaming.{k}_ms": v for k, v in self.ms.items()}}


# -- pure-Python model ---------------------------------------------------

class TableModel:
    """Snapshot contents per version (key → price in cents) and, per
    version, the rows its data dirs added and the keys it tombstoned."""

    def __init__(self):
        self.snaps: list[dict[int, int]] = [{}]
        self.added: list[dict[int, int]] = [{}]
        self.tombs: list[set[int]] = [set()]

    def commit(self, snap: dict[int, int], added: dict[int, int],
               tombs: set[int]) -> None:
        self.snaps.append(snap)
        self.added.append(added)
        self.tombs.append(tombs)

    def apply(self, op: dict, cents: dict[int, int]) -> None:
        cur = dict(self.snaps[-1])
        k = op["kind"]
        if k == "append":
            added = {key: cents[key] for key in range(op["lo"], op["hi"])}
            cur.update(added)
            self.commit(cur, added, set())
        elif k == "delete":
            for key in op["keys"]:
                del cur[key]
            self.commit(cur, {}, set(op["keys"]))
        elif k == "upsert":
            added = dict(op["rows"])
            cur.update(added)
            self.commit(cur, added, set(added))
        else:  # compactions rewrite layout, never content
            self.commit(cur, {}, set())

    def changes(self, a: int, b: int) -> tuple[dict, dict]:
        ins = {}
        for u in range(a + 1, b + 1):
            later = set().union(*self.tombs[u + 1:b + 1])
            ins.update({k: c for k, c in self.added[u].items()
                        if k not in later})
        window_tombs = set().union(*self.tombs[a + 1:b + 1])
        deleted = {k: c for k, c in self.snaps[a].items()
                   if k in window_tombs}
        return ins, deleted


def fingerprint(rows: dict[int, int]) -> tuple[int, int, int]:
    return len(rows), sum(rows), sum(rows.values())


def shingles(text: str) -> set[str]:
    toks = text.lower().split(" ")
    n = max(len(toks) - 2, 1)
    return {" ".join(toks[i:i + 3]) for i in range(n)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


class LakehouseWorkload:
    name = "lakehouse_ingest"
    tables = ("orders", "documents", "embeddings")
    serve = False

    def __init__(self, engine, seed: int, seconds: int, tracer):
        self.engine = engine
        self.seed = seed
        self.tracer = tracer
        self.ops = make_ops(seed, max(1, round(seconds / SECONDS_PER_ROUND)))
        root = engine.dirs["tables"]
        self.base = os.path.join(root, "orders_snap")
        self.warm_base = os.path.join(root, "warmup_snap")
        self.lsh_root = None  # the streaming ingest's index, once it ran
        self.ivf_root = os.path.join(root, "ivf_pq_index")
        self.stream = None  # progress listener, traced runs only
        self.results: list[dict] = []
        self.handlers: list[tuple[str, float, float]] = []
        self.commit_files: list[tuple[int, int]] = []
        self.written = 0
        self.manifest_bytes = 0

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from hive_nexr_spark.datapipe._cache import release_tracked

        spark = self.engine.spark
        data = self.engine.dirs["data"]
        os.makedirs(self.base)
        os.makedirs(self.warm_base)
        self.orders = spark.read.parquet(f"{data}/orders.parquet")
        self.docs = spark.read.parquet(f"{data}/documents.parquet")
        self.emb = spark.read.parquet(f"{data}/embeddings.parquet")
        ot = pq.read_table(f"{data}/orders.parquet")
        self.orders_arrow = ot
        self.order_rows = {r["o_orderkey"]: r for r in ot.to_pylist()}
        self.cents = {k: round(r["o_totalprice"] * 100)
                      for k, r in self.order_rows.items()}
        doc_text = {r["doc_id"]: r["text"] for r in
                    pq.read_table(f"{data}/documents.parquet").to_pylist()}
        # the stream's planted duplicates: exact copies and 'zzz ' + text
        self.all_text = {**doc_text}
        for d, t in doc_text.items():
            self.all_text[d + EXACT] = t
            self.all_text[d + NEAR] = "zzz " + t
        self.emb_ids = pq.read_table(f"{data}/embeddings.parquet",
                                     columns=["vec_id"])["vec_id"].to_pylist()
        self._seen_files: dict[str, int] = {}
        self._scan_new_files()
        # The warm-up table, the IVF-PQ build and the DuckDB oracles share
        # nothing, so they run side by side: the untimed part is most of a
        # run. The build time (a per-layer metric) is taken beside the
        # others, and the build's files are counted once all have ended.
        def warm_up() -> None:
            for op in WARMUP:
                self._time_op(op, self.warm_base)

        def build() -> None:
            for op in self.ops:
                if op["kind"] in BUILDS:
                    self.results.append(self._time_op(op, self.base))

        run_beside([warm_up, build, self._expect])
        self.written += self._scan_new_files()[1]
        release_tracked()

    # -- running ----------------------------------------------------------

    def run(self) -> None:
        if self.tracer.enabled:
            self.stream = StreamProgress(self.engine.spark)
        try:
            self._run_ops([op for op in self.ops
                           if op["kind"] not in BUILDS])
        finally:
            if self.stream is not None:
                self.stream.close()
        self.manifest_bytes = sum(
            os.path.getsize(os.path.join(self.base, f))
            for f in os.listdir(self.base) if f.endswith(".json"))

    def _run_ops(self, ops: list[dict]) -> None:
        """The timed operations, one after another, each recorded."""
        from hive_nexr_spark.datapipe._cache import release_tracked

        for op in ops:
            k = op["kind"]
            rec = self._time_op(op, self.base)
            # cached blocks of one operation must not serve the next
            release_tracked()
            if k == "stream_ingest":
                self.lsh_root = self._stream_index_root()
                if self.stream is not None:
                    self.stream.wait_terminated()
            self.handlers.append((f"pb-{op['id']}", rec["start"],
                                  rec["end"]))
            if k in WRITES:
                files, nbytes = self._scan_new_files()
                self.written += nbytes
                if k in TABLE_WRITES:
                    self.commit_files.append((files, nbytes))
            if k in ("read", "time_travel", "changes"):
                rec["dirs"] = self._manifest_dirs(
                    op.get("version", op.get("to")))
            self.results.append(rec)

    def _stream_index_root(self) -> str:
        """The LSH index `stream_dedup_ingest` built and admitted into: the
        one directory it made under the package's process-scratch root
        (`<root>/dedup_ingest_<hex>_<pid>/<hex>`)."""
        found = glob.glob(os.path.join(
            self.engine.dirs["scratch"], f"dedup_ingest_*_{os.getpid()}",
            "*"))
        if len(found) != 1:
            raise RuntimeError(f"found {len(found)} stream indexes: {found}")
        return found[0]

    def _time_op(self, op: dict, base: str) -> dict:
        """Run one operation on the table at `base` under its own job
        group; its input DataFrame is built before the clock starts."""
        gid = f"pb-{op['id']}"
        if self.tracer.enabled:
            self.engine.spark.sparkContext.setJobGroup(gid, "perfbench")
        payload = self._payload(op)
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{op['kind']}", op=gid):
            out = self._execute(op, payload, base)
        return {"op": op, "start": t0, "end": time.perf_counter(),
                "out": out}

    def _execute(self, op, payload, base):
        from pyspark.sql import functions as F

        from hive_nexr_spark.datapipe import dedup, similarity
        from hive_nexr_spark.queries import datapipe_q
        from hive_nexr_spark.sources import snapshots
        from hive_nexr_spark.streaming import neardup

        spark, k = self.engine.spark, op["kind"]
        data = self.engine.dirs["data"]

        def call(name, fn, *a, **kw):
            with self.tracer.span(name):
                return fn(*a, **kw)

        def collect(df):
            with self.tracer.span("spark.collect"):
                return [tuple(r) for r in df.collect()], df.columns

        def fp(df):
            with self.tracer.span("spark.collect"):
                c, s, p = df.agg(
                    F.count("*"), F.sum("o_orderkey"),
                    F.sum(F.col("o_totalprice").cast("decimal(30,2)")),
                ).collect()[0]
            return (c, s or 0, round((p or 0) * 100))

        if k == "append":
            return call("sources.commit_append_partitioned",
                        snapshots.commit_append_partitioned, spark, base,
                        payload, "o_orderstatus")
        if k == "delete":
            return call("sources.commit_delete", snapshots.commit_delete,
                        spark, base, payload, "o_orderkey")
        if k == "upsert":
            return call("sources.commit_merge_upsert",
                        snapshots.commit_merge_upsert, spark, base, payload,
                        "o_orderkey")
        if k == "compact_partition":
            return call("sources.compact_partition",
                        snapshots.compact_partition, spark, base, op["part"])
        if k == "compact":
            return call("sources.compact", snapshots.compact, spark, base)
        if k in ("read", "time_travel"):
            df = call("sources.read_version", snapshots.read_version, spark,
                      base, op["version"])
            return fp(df)
        if k == "changes":
            ins, dele = call("sources.changes_between",
                             snapshots.changes_between, spark, base,
                             op["from"], op["to"])
            return fp(ins), fp(dele)
        if k == "expire":
            return len(call("sources.expire_snapshots",
                            snapshots.expire_snapshots, base,
                            op["keep_from"]))
        if k == "orphans":
            return len(call("sources.remove_orphans",
                            snapshots.remove_orphans, base, 0))
        if k == "lsh_add":
            return call("lsh_index.add_batch", dedup.lsh_index_add_batch,
                        spark, self.lsh_root, payload)
        if k == "lsh_delete":
            return call("lsh_index.delete", dedup.lsh_index_delete, spark,
                        self.lsh_root, payload)
        if k == "lsh_compact":
            return call("lsh_index.compact", dedup.lsh_index_compact, spark,
                        self.lsh_root)
        if k == "lsh_query":
            df = call("lsh_index.query", dedup.lsh_index_query, spark,
                      self.lsh_root, payload, THRESHOLD)
            return collect(df)[0]
        if k == "ivf_build":
            return call("ivf_pq.build_index", similarity.ivf_pq_build_index,
                        payload, self.ivf_root, n_queries=N_IVF_QUERIES)
        if k == "ivf_add":
            return call("ivf_pq.add_batch", similarity.ivf_pq_add_batch,
                        spark, self.ivf_root, payload)
        if k == "ivf_delete":
            return call("ivf_pq.delete", similarity.ivf_pq_delete, spark,
                        self.ivf_root, payload)
        if k == "ivf_query":
            return collect(call("ivf_pq.query_index",
                                similarity.ivf_pq_query_index, spark,
                                self.ivf_root, payload))
        if k == "stream_ingest":
            return collect(call("streaming.stream_dedup_ingest",
                                neardup.stream_dedup_ingest, spark, data))
        if k == "datapipe":
            fn = datapipe_q.QUERIES[op["key"]]
            return collect(call(f"datapipe.{op['key']}", fn, spark, data))
        raise ValueError(k)

    def _payload(self, op: dict):
        """The op's input DataFrame, built before its clock starts."""
        from pyspark.sql import functions as F

        spark, k = self.engine.spark, op["kind"]
        key = F.col("o_orderkey")
        if k == "append":
            return self.orders.filter((key >= op["lo"]) & (key < op["hi"]))
        if k == "delete":
            return spark.createDataFrame([(x,) for x in op["keys"]],
                                         "o_orderkey bigint")
        if k == "upsert":
            tmpl = self.order_rows[op["template"]]
            rows = [{**self.order_rows.get(x, tmpl), "o_orderkey": x,
                     "o_totalprice": c / 100} for x, c in op["rows"]]
            return spark.createDataFrame(rows, self.orders.schema)
        if k == "lsh_add":
            return self.docs.filter((F.col("doc_id") >= op["lo"])
                                    & (F.col("doc_id") < op["hi"]))
        if k == "lsh_delete":
            return spark.createDataFrame([(x,) for x in op["ids"]],
                                         "doc_id bigint")
        if k == "lsh_query":
            return self.docs.filter(F.col("doc_id").isin(op["ids"]))
        vec = F.col("vec_id")
        if k == "ivf_build":
            return self.emb.filter((vec < N_IVF_QUERIES) | (vec % 2 == 0))
        if k == "ivf_add":
            return self.emb.filter((vec >= N_IVF_QUERIES) & (vec % 2 == 1))
        if k == "ivf_delete":
            return self.emb.filter(
                (vec >= N_IVF_QUERIES) & (vec % op["mod"] == op["rem"])
            ).select("vec_id")
        if k == "ivf_query":
            return self.emb.filter(vec < N_IVF_QUERIES).select(
                vec.alias("query_id"),
                F.col("embedding").cast("array<double>").alias("qv"))
        return None

    def _scan_new_files(self) -> tuple[int, int]:
        """(files, bytes) that appeared under the table and index roots
        since the last scan. Every writer here lands new file names."""
        files = nbytes = 0
        for root in (self.base, self.lsh_root, self.ivf_root):
            if root is None:
                continue
            for dirpath, _d, names in os.walk(root):
                for n in names:
                    p = os.path.join(dirpath, n)
                    if p not in self._seen_files:
                        size = os.path.getsize(p)
                        self._seen_files[p] = size
                        files += 1
                        nbytes += size
        return files, nbytes

    def _manifest_dirs(self, version: int) -> int:
        with open(os.path.join(self.base, f"v{version}.json")) as fh:
            man = json.load(fh)
        return len(man["dirs"]) + len(man.get("deletes", []))

    # -- results ----------------------------------------------------------

    def timed(self) -> list[dict]:
        return [r for r in self.results if r["op"]["kind"] not in BUILDS]

    def latencies(self) -> dict[str, list[float]]:
        out = {"read": [], "write": []}
        for r in self.timed():
            ms = (r["end"] - r["start"]) * 1e3
            k = r["op"]["kind"]
            if k in WRITES:
                out["write"].append(ms)
            elif k in READS:
                out["read"].append(ms)
        return out

    def wall(self) -> float:
        timed = self.timed()
        return timed[-1]["end"] - timed[0]["start"]

    def attempted(self) -> int:
        return len(self.ops)

    def _expect(self) -> None:
        """The DuckDB oracles' rows for the oracle-checked operations.
        They depend only on the inputs, so they are made before the
        clock."""
        oracle = Oracle(self.engine.dirs["data"])
        try:
            self.expected = {op["id"]: oracle.rows(oracle_sql(op))
                             for op in self.ops if op["kind"] in ORACLED}
        finally:
            oracle.close()

    def check(self, data_dir: str) -> list[str]:
        """Failures as "<op id>: <what>", against the model and the
        DuckDB oracles."""
        model = TableModel()
        failures = []
        docs, admitted = set(range(LSH_BUILD_DOCS)), set()
        sh = {d: shingles(t) for d, t in self.all_text.items()}
        for r in self.results:
            op, out, k = r["op"], r["out"], r["op"]["kind"]
            if k in TABLE_WRITES:
                model.apply(op, self.cents)
                if out != len(model.snaps) - 1:
                    failures.append(f"{op['id']}: committed v{out}, "
                                    f"model v{len(model.snaps) - 1}")
            elif k in ("read", "time_travel"):
                want = fingerprint(model.snaps[op["version"]])
                if tuple(out) != want:
                    failures.append(f"{op['id']}: {k} v{op['version']} "
                                    f"read {out}, model {want}")
            elif k == "changes":
                ins, dele = model.changes(op["from"], op["to"])
                want = (fingerprint(ins), fingerprint(dele))
                if tuple(map(tuple, out)) != want:
                    failures.append(f"{op['id']}: changes {op['from']}.."
                                    f"{op['to']} read {out}, model {want}")
            elif k == "lsh_add":
                docs |= set(range(op["lo"], op["hi"]))
            elif k == "lsh_delete":
                docs -= set(op["ids"])
            elif k == "lsh_query":
                failures += self._check_lsh(op, out, docs, sh)
            elif k in ORACLED:
                bad = mismatch(self.expected[op["id"]], *out)
                if bad:
                    failures.append(
                        f"{op['id']}: {op.get('key', k)} {bad}")
                if k == "stream_ingest":  # what the gate admitted
                    rows, cols = out
                    i, a = cols.index("doc_id"), cols.index("admitted")
                    admitted = {row[i] for row in rows if row[a] == 1}
                    docs |= admitted
        ivf = {v for v in self.emb_ids if v < N_IVF_QUERIES or v % 2 == 0}
        for op in self.ops:
            if op["kind"] == "ivf_add":
                ivf |= {v for v in self.emb_ids if v % 2 == 1}
            elif op["kind"] == "ivf_delete":
                ivf -= {v for v in self.emb_ids if v >= N_IVF_QUERIES
                        and v % op["mod"] == op["rem"]}
        self.live = {"table": model.snaps[-1], "docs": docs, "vecs": ivf,
                     "admitted": admitted}
        return failures

    @staticmethod
    def _check_lsh(op, pairs, docs, sh) -> list[str]:
        bad = []
        for a, b, j in pairs:
            if a not in docs or b not in op["ids"]:
                bad.append(f"{op['id']}: pair ({a}, {b}) outside the model")
            elif abs(round(jaccard(sh[a], sh[b]), 6) - j) > 1e-9 \
                    or j < THRESHOLD:
                bad.append(f"{op['id']}: pair ({a}, {b}) jaccard {j}")
        found = {(a, b) for a, b, _ in pairs}
        bad += [f"{op['id']}: live doc {p} did not match itself"
                for p in op["ids"] if p in docs and (p, p) not in found]
        return bad

    def known_defects(self) -> list[str]:
        return []

    def amplification(self, data_dir: str, scratch: str) -> dict[str, float]:
        """write_amp: bytes written under the table and index roots ÷ the
        user rows the sequence submitted, written once as plain parquet;
        space_amp: bytes under those roots at the end ÷ the live rows
        written once."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def plain(tables: list) -> int:
            total = 0
            for i, t in enumerate(tables):
                path = os.path.join(scratch, f"plain{i}.parquet")
                pq.write_table(t, path)
                total += os.path.getsize(path)
                os.remove(path)
            return total

        ot = self.orders_arrow
        emb = pq.read_table(f"{data_dir}/embeddings.parquet",
                            columns=["vec_id", "embedding"])

        def orders_rows(prices: dict[int, int]) -> pa.Table:
            tmpl = self.order_rows[0]
            rows = [{**self.order_rows.get(k, tmpl), "o_orderkey": k,
                     "o_totalprice": c / 100} for k, c in prices.items()]
            return pa.Table.from_pylist(rows, schema=ot.schema)

        def doc_rows(ids) -> pa.Table:
            ids = sorted(ids)
            return pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": [self.all_text[d] for d in ids]})

        def pick(t, col, ids):
            return t.filter(pc.is_in(t[col], pa.array(sorted(ids),
                                                      pa.int64())))

        sub_rows, keys, doc_ids, vec_ids = {}, [], set(), set()
        for op in self.ops:
            k = op["kind"]
            if k == "append":
                sub_rows.update({x: self.cents[x]
                                 for x in range(op["lo"], op["hi"])})
            elif k == "upsert":
                sub_rows.update(dict(op["rows"]))
            elif k in ("delete",):
                keys += op["keys"]
            elif k == "lsh_delete":
                keys += op["ids"]
            elif k == "stream_ingest":
                doc_ids |= set(range(LSH_BUILD_DOCS))
            elif k == "lsh_add":
                doc_ids |= set(range(op["lo"], op["hi"]))
            elif k == "ivf_build":
                vec_ids |= {v for v in self.emb_ids
                            if v < N_IVF_QUERIES or v % 2 == 0}
            elif k == "ivf_add":
                vec_ids |= {v for v in self.emb_ids if v % 2 == 1}
            elif k == "ivf_delete":
                keys += [v for v in self.emb_ids if v >= N_IVF_QUERIES
                         and v % op["mod"] == op["rem"]]
        submitted = plain([
            orders_rows(sub_rows),
            pa.table({"key": pa.array(keys, pa.int64())}),
            doc_rows(doc_ids | self.live["admitted"]),
            pick(emb, "vec_id", vec_ids)])
        live = plain([orders_rows(self.live["table"]),
                      doc_rows(self.live["docs"]),
                      pick(emb, "vec_id", self.live["vecs"])])
        on_disk = sum(dir_bytes(r) for r in
                      (self.base, self.lsh_root, self.ivf_root))
        return {"write_amp": self.written / submitted,
                "space_amp": on_disk / live}

    def layer_metrics(self, jobs: list[dict]) -> dict[str, float]:
        from engine import job_totals

        by_kind: dict[str, list[float]] = {}
        for r in self.results:
            by_kind.setdefault(r["op"]["kind"], []).append(
                (r["end"] - r["start"]) * 1e3)

        def p50(*kinds):
            vals = [v for k in kinds for v in by_kind.get(k, [])]
            return median(vals) if vals else 0.0

        plan = [(s["end"] - s["start"]) * 1e3 for s in self.tracer.spans
                if s["name"] == "sources.read_version"]
        dirs = [r["dirs"] for r in self.results if "dirs" in r]
        return {
            "sources.append_ms": p50("append"),
            "sources.delete_ms": p50("delete"),
            "sources.upsert_ms": p50("upsert"),
            "sources.compact_ms": p50("compact", "compact_partition"),
            "sources.expire_ms": p50("expire"),
            "sources.orphans_ms": p50("orphans"),
            "sources.read_ms": p50("read"),
            "sources.time_travel_ms": p50("time_travel"),
            "sources.changes_ms": p50("changes"),
            "sources.read_plan_ms": median(plan),
            "sources.files_per_commit": sum(f for f, _ in self.commit_files)
            / len(self.commit_files),
            "sources.bytes_per_commit": sum(b for _, b in self.commit_files)
            / len(self.commit_files),
            "sources.manifest_bytes": self.manifest_bytes,
            "sources.dirs_per_read": sum(dirs) / len(dirs),
            "lsh_index.add_ms": p50("lsh_add"),
            "lsh_index.delete_ms": p50("lsh_delete"),
            "lsh_index.compact_ms": p50("lsh_compact"),
            "lsh_index.query_ms": p50("lsh_query"),
            "ivf_pq.build_ms": p50("ivf_build"),
            "ivf_pq.add_ms": p50("ivf_add"),
            "ivf_pq.delete_ms": p50("ivf_delete"),
            "ivf_pq.query_ms": p50("ivf_query"),
            **self.stream.metrics(),
            **self._datapipe_metrics(jobs, job_totals),
        }

    def _datapipe_metrics(self, jobs, job_totals) -> dict[str, float]:
        out = {}
        for r in self.results:
            op = r["op"]
            if op["kind"] != "datapipe":
                continue
            tot = job_totals([j for j in jobs
                              if j["group"] == f"pb-{op['id']}"])
            pre = f"datapipe.{op['key']}."
            out[pre + "wall_s"] = r["end"] - r["start"]
            out[pre + "tasks"] = tot["tasks"]
            out[pre + "shuffle_write_bytes"] = tot["shuffle_write_bytes"]
        return out
