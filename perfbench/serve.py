"""`serve_mixed`: two closed-loop clients against an in-process
`server.HiveQLServer`, each on one persistent connection.

Each client's statement list comes from the seed. A fifth of a list is
`INSERT OVERWRITE` of one partition of a managed partitioned table in the
Derby-backed warehouse, each followed by a read-back of that partition.
In the timed phase each client writes a table of its own. Of the other
reads, half repeat one of the client's earlier statements verbatim and
half carry fresh seeded literals. Every distinct read is checked against
DuckDB on the same parquet after the timed phase, and every read-back
against the rows its write selected.

After the timed phase, the two clients also overwrite different
partitions of one shared table at the same moment. Two connections doing
that hit a known engine defect (see README, known defects); each failed
overwrite is reported as such, apart from the timed statements.
"""

from __future__ import annotations

import json
import math
import os
import random
import socket
import threading
import time

from statistics import median

from common import dir_bytes, rows_equal, self_times

CLIENTS = 2
OPS_PER_CLIENT_SECOND = 1.75  # sizes the fixed work
WRITE_SHARE = 0.20
PART = "p0"  # the partition each client overwrites
SHARED = "pb_part_shared"  # both clients overwrite a partition of it
SHARED_ROUNDS = 3
TEMPLATES = ("point", "agg", "join4", "sample", "topk")
DAY0 = "1995-01-01"


def _day(d: int) -> str:
    import datetime as dt

    return (dt.date.fromisoformat(DAY0) + dt.timedelta(days=d)).isoformat()


def read_statement(template: str, rng: random.Random) -> tuple[str, str]:
    """(HiveQL for the server, DuckDB SQL computing the same rows)."""
    if template == "point":
        k = rng.randrange(15000)
        q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             f"o_orderdate FROM orders WHERE o_orderkey = {k}")
        return q, q
    if template == "agg":
        d = _day(rng.randrange(200, 2400))
        q = ("SELECT l_returnflag, l_linestatus, sum(l_quantity), "
             "sum(l_extendedprice), avg(l_discount), count(1) FROM lineitem "
             f"WHERE l_shipdate <= cast('{d}' as timestamp) "
             "GROUP BY l_returnflag, l_linestatus "
             "ORDER BY l_returnflag, l_linestatus")
        return q, q
    if template == "join4":
        lo = rng.randrange(0, 2200)
        hi = lo + rng.choice((30, 60, 90, 180))
        q = ("SELECT n.n_name, count(1), "
             "sum(l.l_extendedprice * (1 - l.l_discount)) "
             "FROM customer c JOIN orders o ON (c.c_custkey = o.o_custkey) "
             "JOIN lineitem l ON (l.l_orderkey = o.o_orderkey) "
             "JOIN nation n ON (c.c_nationkey = n.n_nationkey) "
             f"WHERE o.o_orderdate >= cast('{_day(lo)}' as timestamp) "
             f"AND o.o_orderdate < cast('{_day(hi)}' as timestamp) "
             "GROUP BY n.n_name ORDER BY n.n_name")
        return q, q
    if template == "sample":
        y = rng.randrange(2, 65)
        x = rng.randrange(1, y + 1)
        q = ("SELECT count(1), sum(c_acctbal) FROM customer "
             f"TABLESAMPLE(BUCKET {x} OUT OF {y} ON c_custkey) s")
        # Hive buckets a bigint by its Java hashCode, which is the value
        # itself for keys below 2^31
        o = ("SELECT count(*), sum(c_acctbal) FROM customer "
             f"WHERE c_custkey % {y} = {x - 1}")
        return q, o
    if template == "topk":
        lo = rng.randrange(0, 1450)
        k = rng.randrange(1, 4)
        q = ("SELECT o_custkey, o_orderkey, o_totalprice, rk FROM ("
             "SELECT o_custkey, o_orderkey, o_totalprice, rank() OVER "
             "(PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk "
             f"FROM orders WHERE o_custkey >= {lo} AND o_custkey < {lo + 50}"
             f") t WHERE rk <= {k} ORDER BY o_custkey, rk, o_orderkey")
        return q, q
    raise ValueError(template)


def table_name(client: int) -> str:
    return f"pb_part_c{client}"


def create_table(table: str) -> str:
    return (f"CREATE TABLE {table} (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_totalprice DOUBLE) PARTITIONED BY (ds STRING) "
            "STORED AS PARQUET")


def write_statements(table: str, part: str,
                     rng: random.Random) -> tuple[str, str, str, str]:
    """(INSERT OVERWRITE, read-back, DuckDB SQL for the read-back rows,
    DuckDB SQL for the written rows)."""
    m = rng.randrange(6, 10)
    r = rng.randrange(m)
    pred = f"o_orderkey % {m} = {r}"
    ins = (f"INSERT OVERWRITE TABLE {table} PARTITION (ds='{part}') "
           f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
           f"WHERE {pred}")
    back = (f"SELECT count(1), sum(o_orderkey), sum(o_totalprice) "
            f"FROM {table} WHERE ds='{part}'")
    oracle = ("SELECT count(*), sum(o_orderkey), sum(o_totalprice) "
              f"FROM orders WHERE {pred}")
    rows = ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE {pred}")
    return ins, back, oracle, rows


def make_ops(seed: int, n_per_client: int,
             clients: int = CLIENTS) -> list[list[dict]]:
    """The seed's statement lists, one per client. Exact shares: a tenth
    of the slots are writes (each followed by its read-back), the other
    reads split evenly between fresh and repeated statements, and the
    templates take equal turns within each half. Each template's first
    read is fresh, and a repeat names an earlier statement of its
    template. The seed decides literals and order only."""
    seen = set(s for s, _ in warmup_reads(seed))
    out = []
    for c in range(clients):
        rng = random.Random(f"serve:{seed}:{c}")
        n_w = max(1, round(n_per_client * WRITE_SHARE))
        n_r = n_per_client - 2 * n_w
        n_fresh = math.ceil(n_r / 2)
        reads = ([(TEMPLATES[i % len(TEMPLATES)], True)
                  for i in range(n_fresh)]
                 + [(TEMPLATES[i % len(TEMPLATES)], False)
                    for i in range(n_r - n_fresh)])
        rng.shuffle(reads)
        first: set[str] = set()
        for i, (t, fresh) in enumerate(reads):
            if t in first:
                continue
            first.add(t)
            if not fresh:
                j = reads.index((t, True), i + 1)
                reads[i], reads[j] = reads[j], reads[i]
        slots = ["r"] * n_r + ["w"] * n_w
        rng.shuffle(slots)
        ops, history, reads = [], {}, iter(reads)
        for slot in slots:
            if slot == "w":
                ins, back, oracle, rows = write_statements(
                    table_name(c), PART, rng)
                path = f"{table_name(c)}/ds={PART}"
                ops.append({"kind": "write", "sql": ins, "rows": rows,
                            "path": path})
                ops.append({"kind": "readback", "sql": back,
                            "oracle": oracle, "path": path})
                continue
            t, fresh = next(reads)
            if fresh:
                while True:
                    q, o = read_statement(t, rng)
                    if q not in seen:
                        break
                seen.add(q)
                op = {"kind": "read", "fresh": True, "template": t,
                      "sql": q, "oracle": o}
                history.setdefault(t, []).append(op)
            else:
                op = dict(rng.choice(history[t]), fresh=False)
            ops.append(op)
        for i, op in enumerate(ops):
            op["id"] = f"c{c}-{i}"
        out.append(ops)
    return out


def warmup_reads(seed: int) -> list[tuple[str, str]]:
    """One statement per template, none of them repeated later."""
    rng = random.Random(f"serve-warm:{seed}")
    return [read_statement(t, rng) for t in TEMPLATES]


class Client:
    """One persistent connection speaking the server's line protocol."""

    def __init__(self, host: str, port: int):
        self.sock = socket.create_connection((host, port), timeout=120)
        self.rfile = self.sock.makefile("rb")

    def request(self, sql: str) -> dict:
        self.sock.sendall((json.dumps({"sql": sql}) + "\n").encode())
        line = self.rfile.readline()
        if not line.endswith(b"\n"):
            raise ConnectionError("server closed the connection mid-reply")
        return json.loads(line)

    def close(self) -> None:
        self.rfile.close()
        self.sock.close()


class ServeWorkload:
    name = "serve_mixed"
    tables = ("nation", "customer", "orders", "lineitem")
    serve = True

    def __init__(self, engine, seed: int, seconds: int, tracer):
        self.engine = engine
        self.seed = seed
        self.tracer = tracer
        self.ops = make_ops(seed, math.ceil(OPS_PER_CLIENT_SECOND * seconds))
        self.warehouse = engine.dirs["warehouse"]
        self.results: list[dict] = []
        self.handlers: list[tuple[str, float, float]] = []
        self.shared: list[dict] = []  # the shared-table overwrites
        self.dispatch = dict.fromkeys(
            ("calls", "spark_path", "rewritten", "bucket_sample"), 0)
        self._patched = []

    # -- phases ---------------------------------------------------------

    def prepare(self) -> None:
        srv = self.engine.server
        c = Client(srv.host, srv.port)
        try:
            # the partitions exist before the clock starts, so each
            # timed write is an overwrite of a live partition
            rng = random.Random(f"serve-warm-w:{self.seed}")
            warm = [create_table(SHARED)]
            for cl in range(CLIENTS):
                t = table_name(cl)
                warm.append(create_table(t))
                for tbl, part in ((t, PART), (SHARED, f"p{cl}")):
                    ins, back, _, _ = write_statements(tbl, part, rng)
                    warm += [ins, back]
            warm += [q for q, _ in warmup_reads(self.seed)]
            for q in warm:
                r = c.request(q)
                if r["error"]:
                    raise RuntimeError(f"warm-up failed: {q}: {r['error']}")
        finally:
            c.close()
        for t in [table_name(cl) for cl in range(CLIENTS)] + [SHARED]:
            if not os.path.isdir(os.path.join(self.warehouse, t)):
                raise RuntimeError(f"managed table not under {self.warehouse}")

    def run(self) -> None:
        if self.tracer.enabled:
            self._patch()
        srv = self.engine.server
        errors: list[BaseException] = []

        def client_loop(ops: list[dict]) -> None:
            try:
                cl = Client(srv.host, srv.port)
            except OSError as exc:
                errors.append(exc)
                return
            try:
                for op in ops:
                    t0 = time.perf_counter()
                    resp = cl.request(op["sql"])
                    t1 = time.perf_counter()
                    rec = {"op": op, "start": t0, "end": t1, "resp": resp}
                    if op["kind"] == "write" and not resp["error"]:
                        rec["bytes"] = dir_bytes(os.path.join(
                            self.warehouse, op["path"]))
                    self.results.append(rec)
            except BaseException as exc:  # reported by the main thread
                errors.append(exc)
            finally:
                cl.close()

        threads = [threading.Thread(target=client_loop, args=(ops,))
                   for ops in self.ops]
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=170)
                if t.is_alive():
                    raise RuntimeError("client thread did not finish")
        finally:
            self._unpatch()
        if errors:
            raise errors[0]

    # -- tracing wrappers (traced runs only) ------------------------------

    def _patch(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        hql = self.engine.server.hql
        tracer, sc = self.tracer, self.engine.spark.sparkContext
        counter = iter(range(1, 1 << 30))
        local = threading.local()
        orig_take = DataFrame.take
        orig_sql = hql.sql
        orig_rewrite = hql._rewrite
        orig_bucket = hql._rewrite_bucket_sample
        counts, lock = self.dispatch, threading.Lock()

        def count(key: str, n: int = 1) -> None:
            with lock:
                counts[key] += n

        def rewrite(stmt):
            # statements that reach Spark SQL; the rest the facade
            # handles itself
            out = orig_rewrite(stmt)
            count("spark_path")
            count("rewritten", out != stmt)
            return out

        def bucket_sample(m):
            count("bucket_sample")
            return orig_bucket(m)

        def sql(statement):
            count("calls")
            gid = f"pb-s{next(counter)}"
            sc.setJobGroup(gid, "perfbench")
            with tracer.span("hiveql.sql", op=gid) as sp:
                sp["sql"] = statement
                local.cur = sp
                return orig_sql(statement)

        def take(df, num):
            cur = getattr(local, "cur", None)
            if cur is None:
                return orig_take(df, num)
            with tracer.span("spark.take", op=cur["op"], parent=cur["id"]):
                return orig_take(df, num)

        hql.sql = sql
        hql._rewrite = rewrite
        hql._rewrite_bucket_sample = bucket_sample
        DataFrame.take = take
        self._patched = [(hql, "sql", None), (hql, "_rewrite", None),
                         (hql, "_rewrite_bucket_sample", None),
                         (DataFrame, "take", orig_take)]

    def _unpatch(self) -> None:
        for obj, attr, orig in self._patched:
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._patched = []

    # -- results --------------------------------------------------------

    def latencies(self) -> dict[str, list[float]]:
        out = {"read": [], "write": []}
        for r in self.results:
            ms = (r["end"] - r["start"]) * 1e3
            out["write" if r["op"]["kind"] == "write" else "read"].append(ms)
        return out

    def wall(self) -> float:
        return (max(r["end"] for r in self.results)
                - min(r["start"] for r in self.results))

    def attempted(self) -> int:
        return sum(len(ops) for ops in self.ops)

    def check(self, data_dir: str) -> list[str]:
        """Failures as "<op id>: <what>": errors, wrong answers and
        missing replies."""
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        failures = []
        replied = {r["op"]["id"] for r in self.results}
        failures += [f"{op['id']}: no reply" for ops in self.ops
                     for op in ops if op["id"] not in replied]
        expected: dict[str, list] = {}
        for r in self.results:
            op, resp = r["op"], r["resp"]
            if resp["error"]:
                failures.append(f"{op['id']}: {resp['error']}")
                continue
            if op["kind"] == "write":
                continue
            if op["oracle"] not in expected:
                expected[op["oracle"]] = con.execute(op["oracle"]).fetchall()
            if not rows_equal(resp["rows"], expected[op["oracle"]]):
                failures.append(f"{op['id']}: wrong answer for {op['sql']}")
        self._shared_overwrites(con)
        con.close()
        return failures

    def _shared_overwrites(self, con) -> None:
        """Both clients overwrite their own partition of one shared table
        at the same moment, then read it back. An error reply, or a wrong
        read-back after a success reply, is the known concurrent-overwrite
        defect (both clients' jobs stage under one `_temporary` dir): it
        is kept in `self.shared` and reported apart from the timed
        statements."""
        srv = self.engine.server
        rng = random.Random(f"serve-shared:{self.seed}")
        plan = [[write_statements(SHARED, f"p{c}", rng)
                 for c in range(CLIENTS)] for _ in range(SHARED_ROUNDS)]
        clients = [Client(srv.host, srv.port) for _ in range(CLIENTS)]
        barrier = threading.Barrier(CLIENTS, timeout=120)
        out: list[dict] = []
        errors: list[BaseException] = []

        def loop(c: int) -> None:
            try:
                for i, stmts in enumerate(plan):
                    ins, back, oracle, _ = stmts[c]
                    barrier.wait()
                    w = clients[c].request(ins)
                    r = clients[c].request(back)
                    out.append({"id": f"shared{i}-c{c}", "write": w,
                                "back": r, "oracle": oracle})
            except BaseException as exc:  # reported by the main thread
                errors.append(exc)
                barrier.abort()

        threads = [threading.Thread(target=loop, args=(c,))
                   for c in range(CLIENTS)]
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=170)
                if t.is_alive():
                    raise RuntimeError("shared-table client did not finish")
        finally:
            for cl in clients:
                cl.close()
        if errors:
            raise errors[0]
        for r in sorted(out, key=lambda r: r["id"]):
            if r["write"]["error"]:
                r["defect"] = "error reply: " + r["write"]["error"]
            elif r["back"]["error"] or not rows_equal(
                    r["back"]["rows"], con.execute(r["oracle"]).fetchall()):
                r["defect"] = "success reply, but the read-back is wrong"
            self.shared.append(r)

    def known_defects(self) -> list[str]:
        """The shared-table overwrites that failed, one line each."""
        return [f"{r['id']}: concurrent INSERT OVERWRITE into {SHARED}: "
                f"{r['defect']}" for r in self.shared if "defect" in r]

    def amplification(self, data_dir: str, scratch: str) -> dict[str, float]:
        """write_amp: bytes the writes left under the table ÷ the same rows
        written once as plain parquet; space_amp: table bytes at the end ÷
        the live partitions' rows written once."""
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE VIEW orders AS SELECT * FROM "
                    f"read_parquet('{data_dir}/orders.parquet')")
        written = plain = 0
        last: dict[str, str] = {}
        for r in sorted(self.results, key=lambda r: r["end"]):
            if r["op"]["kind"] != "write" or r["resp"]["error"]:
                continue
            written += r["bytes"]
            last[r["op"]["path"]] = r["op"]["rows"]
            plain += _plain_bytes(con, r["op"]["rows"], scratch)
        live_plain = _plain_bytes(
            con, " UNION ALL ".join(f"({q})" for q in last.values()), scratch)
        on_disk = sum(dir_bytes(os.path.join(self.warehouse, p))
                      for p in last)
        con.close()
        return {"write_amp": written / plain, "space_amp": on_disk / live_plain}

    def layer_metrics(self, jobs: list[dict]) -> dict[str, float]:
        reads = [r for r in self.results if r["op"]["kind"] == "read"]
        fresh = [(r["end"] - r["start"]) * 1e3 for r in reads
                 if r["op"]["fresh"]]
        repeat = [(r["end"] - r["start"]) * 1e3 for r in reads
                  if not r["op"]["fresh"]]
        out = {"serve.fresh_p50_ms": median(fresh),
               "serve.repeat_p50_ms": median(repeat),
               "serve.shared_overwrite_failures": len(self.known_defects())}
        out.update(self._server_split())
        return out

    def _server_split(self) -> dict[str, float]:
        """Attach each server-side span to the client request it served
        (same statement, interval inside the round trip) and split the
        round trip into hiveql, Spark fetch and server self time."""
        sql_spans = [s for s in self.tracer.spans if s["name"] == "hiveql.sql"]
        takes: dict[int, list[dict]] = {}
        for s in self.tracer.spans:
            if s["name"] == "spark.take":
                takes.setdefault(s["parent"], []).append(s)
        used: set[int] = set()
        req_ids = []
        self.handlers = []
        for r in sorted(self.results, key=lambda r: r["start"]):
            sp = next(
                (s for s in sql_spans if s["id"] not in used
                 and s["sql"] == r["op"]["sql"]
                 and r["start"] <= s["start"] and s["end"] <= r["end"]),
                None)
            if sp is None:
                raise RuntimeError(f"no server span for {r['op']['id']}")
            used.add(sp["id"])
            rid = self.tracer.add("server.request", sp["op"], None,
                                  r["start"], r["end"])
            req_ids.append(rid)
            sp["parent"] = rid
            end = sp["end"]
            for t in takes.get(sp["id"], []):
                if t["start"] >= sp["end"]:  # the server's row fetch
                    t["parent"] = rid
                end = max(end, t["end"])
            self.handlers.append((sp["op"], sp["start"], end))
        selfs = self_times(self.tracer.spans)
        d = self.dispatch
        return {
            "hiveql.spark_path_calls": d["spark_path"],
            "hiveql.local_path_calls": d["calls"] - d["spark_path"],
            "hiveql.rewritten_calls": d["rewritten"],
            "hiveql.bucket_sample_rewrites": d["bucket_sample"],
            "hiveql.sql_p50_ms": median(
                [(s["end"] - s["start"]) * 1e3 for s in sql_spans]),
            "server.overhead_p50_ms": median(
                [selfs[i] * 1e3 for i in req_ids]),
        }


def _plain_bytes(con, sql: str, scratch: str) -> int:
    path = os.path.join(scratch, "plain.parquet")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    size = os.path.getsize(path)
    os.remove(path)
    return size
