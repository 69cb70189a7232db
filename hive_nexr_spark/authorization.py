"""Hive-0.8 authorization model: grants, roles, and statement-time checks.

Reimplements the reference's storage-based authorization surface
(`parse/DDLSemanticAnalyzer.java` analyzeGrant/analyzeRevoke/
analyzeGrantRevokeRole/analyzeShowGrant, enforcement in
`ql/security/authorization/DefaultHiveAuthorizationProvider.java` driven
by `Driver.doAuthorization`) as an in-process registry:

* GRANT/REVOKE of privileges at database, table, partition and column
  scope, to USER / GROUP / ROLE principals, with Hive's duplicate-grant
  error (`metastore/ObjectStore.grantPrivileges` InvalidObjectException);
* roles (CREATE/DROP ROLE, GRANT ROLE TO USER, SHOW ROLE GRANT) whose
  grants evaporate when the role is dropped (authorization_fail_7.q);
* partition-level privileges: when a table sets the fork's
  `PARTITION_LEVEL_PRIVILEGE=TRUE` table property, a partition SNAPSHOTS
  the table's grants at creation time and is checked (and revoked)
  independently afterwards (`authorization_2.q` / `authorization_fail_5.q`
  pin the inherit-then-revoke lifecycle);
* enforcement when `hive.security.authorization.enabled=true`, with the
  reference's operation→privilege mapping (`ql/plan/HiveOperation.java`):
  query/EXPORT inputs need Select (checked per referenced column, per
  read partition on PARTITION_LEVEL_PRIVILEGE tables), INSERT/LOAD
  outputs need Update, ALTER TABLE needs Alter, ADD PARTITION needs
  Create, DROP PARTITION needs Drop, IMPORT needs Alter+Update on an
  existing target and Create on the database otherwise;
* error strings byte-compatible with the reference's negative goldens
  (`clientnegative/authorization_fail_*.q.out`):
  ``Authorization failed:No privilege 'Select' found for inputs
  { database:default, table:t, partitionName:ds=2010, columnName:key}.
  Use show grant to get more details.``

The session identity is the reference test harness's fixed principal
(`ql/src/test/.../DummyAuthenticator.java:19`): user ``hive_test_user``
with groups ``hive_test_group1``/``hive_test_group2``; override with
SPARK_GRAFT_USER / SPARK_GRAFT_GROUPS for CLI use.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, replace

_PRIVS = {"all": "All", "select": "Select", "update": "Update",
          "create": "Create", "drop": "Drop", "alter": "Alter",
          "index": "Index", "lock": "Lock",
          "show_database": "Show_database"}

# deterministic grantTime base (the reference prints epoch seconds; a
# fixed monotonic counter keeps SHOW GRANT output reproducible)
_TIME0 = 1298420000


class AuthorizationError(RuntimeError):
    pass


def _fmt_fail(priv: str, io: str, db: str, table: str | None,
              part: str | None = None, col: str | None = None) -> str:
    obj = f" database:{db}"
    if table:
        obj += f", table:{table}"
    if part:
        obj += f", partitionName:{part}"
    if col:
        obj += f", columnName:{col}"
    return (f"Authorization failed:No privilege '{priv}' found for "
            f"{io} {{{obj}}}. Use show grant to get more details.")


@dataclass(frozen=True)
class Grant:
    ptype: str            # USER | GROUP | ROLE
    pname: str
    db: str
    table: str | None     # None → database-level grant
    part: str | None      # "ds=2010" | None (table-level)
    col: str | None       # column-level grant | None
    priv: str             # canonical display form (Select, All, ...)
    time: int
    grantor: str


class AuthRegistry:
    """Session-scoped grant store + statement-time authorization."""

    def __init__(self, spark):
        self.spark = spark
        self.user = os.environ.get("SPARK_GRAFT_USER", "hive_test_user")
        self.groups = [
            g for g in os.environ.get(
                "SPARK_GRAFT_GROUPS",
                "hive_test_group1,hive_test_group2").split(",") if g]
        self.grants: list[Grant] = []
        self.roles: dict[str, set[str]] = {}   # role → member users
        self.plp: set[tuple[str, str]] = set()  # PARTITION_LEVEL_PRIVILEGE
        self._tick = 0

    # -- config -------------------------------------------------------

    def enabled(self) -> bool:
        # with a default: an unset key would otherwise throw in the JVM,
        # and converting that exception costs a dozen Py4J round trips
        # on every statement
        v = self.spark.conf.get("hive.security.authorization.enabled",
                                "false")
        return str(v).lower() == "true"

    def _now(self) -> int:
        self._tick += 1
        return _TIME0 + self._tick

    def _db(self) -> str:
        try:
            return self.spark.catalog.currentDatabase()
        except Exception:
            return "default"

    def _split(self, table: str) -> tuple[str, str]:
        t = table.strip("`").lower()
        if "." in t:
            db, t = t.split(".", 1)
            return db, t
        return self._db(), t

    # -- principals ---------------------------------------------------

    def _principals(self) -> list[tuple[str, str]]:
        ps = [("USER", self.user)]
        ps += [("GROUP", g) for g in self.groups]
        ps += [("ROLE", r) for r, members in self.roles.items()
               if self.user in members]
        return ps

    # -- grant / revoke ----------------------------------------------

    def grant(self, priv: str, cols: list[str] | None, db: str | None,
              table: str | None, part: str | None, ptype: str,
              pname: str) -> None:
        p = _PRIVS.get(priv.lower(), priv.capitalize())
        db = (db or self._db()).lower()
        table = table.lower().strip("`") if table else None
        for col in (cols or [None]):
            dup = self._find(ptype, pname, db, table, part, col, p)
            if dup:
                # metastore/ObjectStore.grantPrivileges duplicate check
                raise RuntimeError(
                    "java.lang.RuntimeException: InvalidObjectException("
                    f"message:{p} is already granted on table "
                    f"[{db},{table}] by {dup[0].grantor})")
            self.grants.append(Grant(
                ptype.upper(), pname, db, table, part,
                col.lower() if col else None, p, self._now(), self.user))

    def revoke(self, priv: str, cols: list[str] | None, db: str | None,
               table: str | None, part: str | None, ptype: str,
               pname: str) -> None:
        p = _PRIVS.get(priv.lower(), priv.capitalize())
        db = (db or self._db()).lower()
        table = table.lower().strip("`") if table else None
        for col in (cols or [None]):
            c = col.lower() if col else None
            self.grants = [
                g for g in self.grants
                if not (g.ptype == ptype.upper() and g.pname == pname
                        and g.db == db and g.table == table
                        and g.part == part and g.col == c
                        and g.priv == p)]

    def _find(self, ptype, pname, db, table, part, col, priv):
        c = col.lower() if col else None
        return [g for g in self.grants
                if g.ptype == ptype.upper() and g.pname == pname
                and g.db == db and g.table == table and g.part == part
                and g.col == c and g.priv == priv]

    # -- roles --------------------------------------------------------

    def create_role(self, role: str) -> None:
        self.roles.setdefault(role.lower(), set())

    def drop_role(self, role: str) -> None:
        r = role.lower()
        self.roles.pop(r, None)
        # a dropped role's grants evaporate (authorization_fail_7.q)
        self.grants = [g for g in self.grants
                       if not (g.ptype == "ROLE" and g.pname == r)]

    def grant_role(self, role: str, user: str) -> None:
        self.roles.setdefault(role.lower(), set()).add(user)

    def role_grants(self, user: str) -> list[tuple[str, int]]:
        return sorted(
            (r, _TIME0) for r, members in self.roles.items()
            if user in members)

    # -- show grant ---------------------------------------------------

    def show_grant(self, ptype: str, pname: str, db: str | None,
                   table: str | None, part: str | None,
                   col: str | None) -> list[tuple[str, str]]:
        """Property rows in the reference CLI's SHOW_GRANT rendering
        (database/table/[partition]/[columnName]/principalName/...)."""
        if table:
            tdb, t = self._split(table)
        else:
            tdb, t = (db or self._db()).lower(), None
        pool = [g for g in self.grants
                if g.ptype == ptype.upper() and g.pname == pname
                and g.db == tdb and g.table == t]
        if t is not None:
            if part is not None:
                own = [g for g in pool if g.part == part]
                # without partition-own records the partition shares the
                # table's privileges (no PARTITION_LEVEL_PRIVILEGE)
                pool = own or [replace(g, part=part) for g in pool
                               if g.part is None]
            else:
                pool = [g for g in pool if g.part is None]
        if col is not None:
            pool = [g for g in pool if g.col == col.lower()]
        else:
            pool = [g for g in pool if g.col is None]
        rows: list[tuple[str, str]] = []
        for g in sorted(pool, key=lambda g: g.time):
            rows.append(("database", g.db))
            if g.table:
                rows.append(("table", g.table))
            if g.part:
                rows.append(("partition", g.part))
            if g.col:
                rows.append(("columnName", g.col))
            rows += [("principalName", g.pname),
                     ("principalType", g.ptype),
                     ("privilege", g.priv),
                     ("grantTime", str(g.time)),
                     ("grantor", g.grantor)]
        return rows

    # -- privilege search --------------------------------------------

    def _has(self, priv: str, db: str, table: str | None,
             part: str | None, col: str | None) -> bool:
        """True if any principal path holds `priv` (or All) on the
        object: database-level grants cover the whole db; a table-level
        record (col None) covers every column; a column record covers
        its column. `part` selects partition-own records EXCLUSIVELY
        (partition-level privilege semantics)."""
        principals = set(self._principals())
        for g in self.grants:
            if (g.ptype, g.pname) not in principals:
                continue
            if g.priv not in (priv, "All"):
                continue
            if g.db != db:
                continue
            if g.table is None:       # database-level grant
                return True
            if g.table != table:
                continue
            if g.part != part:
                continue
            if g.col is None or (col is not None and g.col == col):
                return True
        return False

    # -- partition lifecycle -----------------------------------------

    def _known_parts(self, db: str, table: str) -> set[str]:
        return {g.part for g in self.grants
                if g.db == db and g.table == table and g.part}

    def partition_created(self, table: str, part: str) -> None:
        """PARTITION_LEVEL_PRIVILEGE inheritance: a new partition
        snapshots the table's current grants
        (`Hive.copyTableLevelPrivileges` lineage in the fork)."""
        db, t = self._split(table)
        if (db, t) not in self.plp:
            return
        if any(g.part == part for g in self.grants
               if g.db == db and g.table == t):
            return  # already snapshotted (INSERT into existing partition)
        snap = [replace(g, part=part, time=self._now())
                for g in self.grants
                if g.db == db and g.table == t and g.part is None]
        self.grants += snap

    def partition_dropped(self, table: str, part: str) -> None:
        db, t = self._split(table)
        self.grants = [g for g in self.grants
                       if not (g.db == db and g.table == t
                               and g.part == part)]

    def table_dropped(self, table: str) -> None:
        """DROP TABLE drops its privileges with it (metastore
        dropTable cascade) — a re-created table starts grant-free
        (authorization_6.q re-creates and re-grants)."""
        db, t = self._split(table)
        self.grants = [g for g in self.grants
                       if not (g.db == db and g.table == t)]
        self.plp.discard((db, t))

    def set_plp(self, table: str, on: bool) -> None:
        db, t = self._split(table)
        (self.plp.add if on else self.plp.discard)((db, t))

    # -- checks -------------------------------------------------------

    def require_table(self, priv: str, io: str, table: str) -> None:
        db, t = self._split(table)
        if not self._has(priv, db, t, None, None):
            raise AuthorizationError(_fmt_fail(priv, io, db, t))

    def require_db(self, priv: str, io: str, db: str | None = None) -> None:
        d = (db or self._db()).lower()
        if not self._has(priv, d, None, None, None):
            raise AuthorizationError(_fmt_fail(priv, io, d, None))

    def require_select(self, table: str, stmt: str) -> None:
        """Select on each referenced data column of `table`, per read
        partition when the table carries partition-level privileges."""
        db, t = self._split(table)
        try:
            infos = self.spark.catalog.listColumns(t if db == self._db()
                                                   else f"{db}.{t}")
        except Exception:
            infos = []
        tokens = {w.lower() for w in re.findall(r"[A-Za-z_]\w*", stmt)}
        datacols = [c.name.lower() for c in infos if not c.isPartition]
        pcols = [c.name.lower() for c in infos if c.isPartition]
        cols = [c for c in datacols if c in tokens]
        parts: list[str | None] = [None]
        if (db, t) in self.plp:
            known = self._known_parts(db, t)
            hit = set()
            for pc in pcols:
                for m in re.finditer(
                        rf"(?i)\b{pc}\s*=\s*'([^']*)'", stmt):
                    hit.add(f"{pc}={m.group(1)}")
            sel = sorted(hit & known) if hit else sorted(known)
            if sel:
                parts = sel
        for part in parts:
            for col in (cols or [None]):
                if not self._has("Select", db, t, part, col):
                    raise AuthorizationError(
                        _fmt_fail("Select", "inputs", db, t, part, col))

    # -- statement enforcement ---------------------------------------

    def enforce(self, stmt: str) -> None:
        """Check the statement's required privileges (Driver
        .doAuthorization analogue). EXPORT/IMPORT/LOAD are checked at
        their handlers (they know the resolved target)."""
        if not self.enabled():
            return
        s = " ".join(stmt.split())
        sl = s.lower()
        m = re.match(r"alter table\s+([\w.`]+)\s+add\s+(?:if not exists\s+)?"
                     r"partition", sl)
        if m:
            # ALTERTABLE_ADDPARTS requires Create (authorization_fail_2.q)
            self.require_table("Create", "inputs", m.group(1))
            return
        m = re.match(r"alter table\s+([\w.`]+)\s+drop\s+(?:if exists\s+)?"
                     r"partition", sl)
        if m:
            self.require_table("Drop", "inputs", m.group(1))
            return
        m = re.match(r"alter index\s+\w+\s+on\s+([\w.`]+)", sl)
        if m:
            # ALTER INDEX ... REBUILD scans the base table (index_auth.q
            # grants Select on it before rebuilding under enforcement)
            self.require_table("Select", "inputs", m.group(1))
            return
        m = re.match(r"alter table\s+([\w.`]+)", sl)
        if m:
            self.require_table("Alter", "inputs", m.group(1))
            return
        m = re.match(r"insert\s+(?:overwrite|into)\s+table\s+([\w.`]+)", sl)
        if m:
            self.require_table("Update", "outputs", m.group(1))
            for src in self._input_tables(sl):
                self.require_select(src, s)
            return
        if sl.startswith(("select", "from")):
            for src in self._input_tables(sl):
                self.require_select(src, s)

    def _input_tables(self, sl: str) -> list[str]:
        """Catalog tables referenced after FROM/JOIN (subqueries/CTE
        aliases are filtered by the existence check)."""
        names = re.findall(r"\b(?:from|join)\s+([\w.`]+)", sl)
        out = []
        for n in names:
            n = n.strip("`")
            try:
                if self.spark.catalog.tableExists(n):
                    out.append(n)
            except Exception:
                continue
        return out
