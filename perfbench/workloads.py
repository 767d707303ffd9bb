"""The benchmark's statement mixes, drawn from the seed.

A ``Stmt`` carries what the client sends and how its reply is checked
(``check``, see ``verify.py``). Parameters — point keys, bulk key ranges,
COPY payloads — come from ``random.Random(seed)``, so a seed fixes both
the data (``datagen``) and the statements.

The BI-tool introspection corpus is a copy, so the workload stays the
same while the program under test changes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from datagen import N_CUSTOMER, N_ORDERS


@dataclass
class Stmt:
    label: str                  # stable name, the same in every unit
    sql: str
    kind: str                   # replay, session, point, agg, write, ...
    check: tuple = ("ok",)
    params: list | None = None  # extended protocol when not None
    binary: bool = False        # binary result columns (extended only)
    copy_in: bytes | None = None


# Known failures stay in the mix unrewritten. The check accepts the
# recorded SQLSTATE, or a success once the defect is fixed; either way an
# error reply counts in failed_share.
KNOWN_FAILURES = {
    # the recipe in trained_quality's docstring: ::int becomes rint()
    # over a boolean
    "labeled_view": ("CREATE TEMP VIEW labeled AS SELECT *, "
                     "(lang = 'en')::int AS y FROM documents", "42K09"),
    # PostgreSQL type names in DDL reach Spark's parser untranslated
    "pg_typed_ddl": ("CREATE TABLE {table} (a BIGINT, b TEXT, "
                     "c DOUBLE PRECISION, d DATE)", "42601"),
}

# psql, pgcli, DBeaver, Grafana and Metabase introspection (25
# statements), as replayed by the repository's client-replay tests.
REPLAY = [
    "SELECT d.datname FROM pg_catalog.pg_database d ORDER BY 1",
    """SELECT c.relname, n.nspname, c.relkind
       FROM pg_catalog.pg_class c
       LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
       WHERE c.relkind IN ('r','v') ORDER BY 2, 3""",
    """SELECT a.attname,
              pg_catalog.format_type(a.atttypid, a.atttypmod),
              a.attnotnull
       FROM pg_catalog.pg_attribute a
       WHERE a.attrelid = 'nation'::regclass AND a.attnum > 0
         AND NOT a.attisdropped
       ORDER BY a.attnum""",
    "SELECT version()",
    "SELECT current_schema()",
    "SELECT pg_catalog.current_database()",
    """SELECT c.relname FROM pg_catalog.pg_class c, pg_catalog.pg_inherits i
       WHERE c.oid = i.inhparent ORDER BY 1""",
    """SELECT 'r' AS kind, relname AS name FROM pg_catalog.pg_class WHERE relkind = 'r'
       UNION SELECT 'v' AS kind, viewname AS name FROM pg_catalog.pg_views
       UNION SELECT 'm' AS kind, matviewname AS name FROM pg_catalog.pg_matviews
       ORDER BY 2""",
    "SELECT nspname FROM pg_catalog.pg_namespace ORDER BY 1",
    """SELECT n.nspname AS schema_name, c.relname AS table_name
       FROM pg_catalog.pg_class c
       JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
       WHERE c.relkind = ANY('{r,p,f}') ORDER BY 1, 2""",
    "SELECT proname FROM pg_catalog.pg_proc ORDER BY 1 LIMIT 20",
    "SELECT word FROM pg_get_keywords() ORDER BY 1 LIMIT 10",
    "SELECT rolname FROM pg_catalog.pg_roles",
    "SELECT current_schema(), session_user",
    """SELECT t.oid, t.typname, t.typlen FROM pg_catalog.pg_type t
       WHERE t.typname IN ('int4', 'text', 'bool') ORDER BY t.oid""",
    "SELECT oid, datname FROM pg_catalog.pg_database",
    "SELECT setting FROM pg_catalog.pg_settings WHERE name = 'search_path'",
    "SELECT string_agg(word, ',') FROM (SELECT word FROM pg_get_keywords() LIMIT 3) x",
    "SELECT 1",
    "SELECT current_database()",
    """SELECT quote_ident(table_name) AS table_name
       FROM information_schema.tables
       WHERE table_schema = 'public' ORDER BY 1""",
    """SELECT quote_ident(column_name) AS column_name, data_type
       FROM information_schema.columns
       WHERE table_name = 'orders' ORDER BY 1""",
    "SELECT TRUE AS ok",
    "SELECT 'postgres' AS db",
    """SELECT schemaname, tablename FROM pg_catalog.pg_tables
       WHERE schemaname !~ '^pg_' ORDER BY 1, 2""",
]

# spot rows the client-replay tests pin: expected leading columns of
# every row, for a corpus statement (by index) or an extra statement
REPLAY_SPOTS = {
    2: [["n_nationkey", "integer"], ["n_name", "text"],
        ["n_regionkey", "integer"]],
}
EXTRA_SPOTS = [
    ("SELECT min(oid) FROM pg_class WHERE oid >= 16384", [["16384"]]),
    ("SELECT word FROM pg_get_keywords() WHERE word = 'select'",
     [["select"]]),
]

# the order sessions replay the corpus in, REPLAY_PER_SESSION statements
# a session: the spot-checked statements first, so the first sessions of
# a run check them
REPLAY_PER_SESSION = 1


def _replay_schedule() -> list[tuple]:
    out = [(f"replay_{i}", REPLAY[i], ("spot", REPLAY_SPOTS[i]))
           for i in REPLAY_SPOTS]
    out += [(f"replay_spot_{i}", sql, ("spot", rows))
            for i, (sql, rows) in enumerate(EXTRA_SPOTS)]
    out += [(f"replay_{i}", sql, ("ok",)) for i, sql in enumerate(REPLAY)
            if i not in REPLAY_SPOTS]
    return out


REPLAY_SCHEDULE = _replay_schedule()

BULK_ROWS = 10_000        # rows per bulk read
COPY_IN_ROWS = 5_000      # rows per bulk COPY FROM STDIN


def copy_payload(rng: random.Random, n: int) -> tuple[bytes, tuple]:
    """Tab-separated rows (k BIGINT, v STRING, x DOUBLE) and their
    checksum (count, sum k, sum length(v), sum x)."""
    lines, sk, sv, sx = [], 0, 0, 0.0
    for i in range(n):
        k = rng.randrange(1, 10**9)
        v = "v" * rng.randrange(1, 12) + str(i)
        x = rng.randrange(0, 10**7) / 100
        lines.append(f"{k}\t{v}\t{x}\n")
        sk, sv, sx = sk + k, sv + len(v), sx + x
    return "".join(lines).encode(), (n, sk, sv, sx)


def write_block(rng: random.Random, table: str, n: int) -> list[Stmt]:
    """CREATE TABLE, COPY n rows in, read the checksum back."""
    data, checksum = copy_payload(rng, n)
    return [
        Stmt(f"create_{n}", f"CREATE TABLE {table} (k BIGINT, v STRING, "
             "x DOUBLE)", "write"),
        Stmt(f"copy_in_{n}", f"COPY {table} FROM STDIN", "copy_in",
             ("copy_in", n), copy_in=data),
        Stmt(f"copy_readback_{n}",
             f"SELECT count(*) AS n, sum(k) AS sk, sum(length(v)) AS sv, "
             f"sum(x) AS sx FROM {table}", "agg", ("checksum", checksum)),
    ]


def known_failure(name: str, **fmt) -> Stmt:
    sql, state = KNOWN_FAILURES[name]
    return Stmt(name, sql.format(**fmt), "known_failure",
                ("known_failure", state))


# a client mistake: the server must answer it with this error
def missing_table() -> Stmt:
    return Stmt("missing_table", "SELECT * FROM no_such_table", "error",
                ("error", "42P01"))


# Every unit of work of a workload ends in the same error statements, so
# failed_share does not depend on how many units fit in a run: 2 of 10
# statements in a bulk round, 3 of 10 in an interactive session.
def known_failures(tag: str) -> list[Stmt]:
    return [known_failure("labeled_view"),
            known_failure("pg_typed_ddl", table=f"typed_{tag}")]


def interactive_session(rng: random.Random, client: int,
                        n: int) -> list[Stmt]:
    """One BI-tool session (10 statements): the next statement of the
    introspection replay with its spot check (the first catalog statement
    of a connection refreshes its pg_catalog snapshot), session commands,
    a point lookup over the simple protocol and a small aggregate over
    the extended one inside a transaction, the known failures and a
    client mistake."""
    k = len(REPLAY_SCHEDULE)
    first = (2 * n + client - 1) * REPLAY_PER_SESSION
    out = [Stmt(label, sql, "replay", check)
           for label, sql, check in (REPLAY_SCHEDULE[(first + j) % k]
                                     for j in range(REPLAY_PER_SESSION))]
    app = f"perfbench-c{client}"
    out += [
        Stmt("set_app", f"SET application_name = '{app}'", "session"),
        Stmt("show_app", "SHOW application_name", "session", ("show", app)),
        Stmt("begin", "BEGIN", "session"),
        Stmt("point_customer",
             "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
             f"WHERE c_custkey = {rng.randrange(N_CUSTOMER)}", "point",
             ("duckdb",)),
        Stmt("agg_customer_status_ext",
             "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
             "FROM orders WHERE o_custkey = $1 GROUP BY o_orderstatus "
             "ORDER BY 1", "agg", ("duckdb",),
             params=[rng.randrange(N_CUSTOMER)]),
        Stmt("commit", "COMMIT", "session"),
    ]
    return out + known_failures(f"c{client}_s{n}") + [missing_table()]


def bulk_round(rng: random.Random, n: int) -> list[Stmt]:
    """10^4-row reads over text, binary and COPY OUT, then a COPY IN
    round trip, then the known failures."""
    def lo():
        return rng.randrange(0, N_ORDERS - BULK_ROWS)

    def lo_li():
        return rng.randrange(0, N_ORDERS - BULK_ROWS // 4)
    a, b, c = lo(), lo(), lo()
    li, li2 = lo_li(), lo_li()
    return [
        Stmt("bulk_orders_text",
             f"SELECT * FROM orders WHERE o_orderkey >= {a} "
             f"AND o_orderkey < {a + BULK_ROWS}", "bulk_read",
             ("bulk", "orders", a, a + BULK_ROWS, (0, 1, 3))),
        Stmt("bulk_lineitem_text",
             "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, "
             "l_extendedprice, l_discount FROM lineitem "
             f"WHERE l_orderkey >= {li} AND l_orderkey < {li + BULK_ROWS // 4}",
             "bulk_read",
             ("bulk", "lineitem", li, li + BULK_ROWS // 4, (0, 1, 4))),
        Stmt("bulk_orders_binary",
             "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus "
             "FROM orders WHERE o_orderkey >= $1 AND o_orderkey < $2",
             "bulk_read", ("bulk", "orders", b, b + BULK_ROWS, (0, 1, 2)),
             params=[b, b + BULK_ROWS], binary=True),
        Stmt("bulk_orders_copy_out",
             "COPY (SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
             f"WHERE o_orderkey >= {c} AND o_orderkey < {c + BULK_ROWS}) "
             "TO STDOUT", "copy_out",
             ("bulk", "orders", c, c + BULK_ROWS, (0, 1, 2))),
        Stmt("bulk_lineitem_copy_out",
             "COPY (SELECT l_orderkey, l_partkey, l_extendedprice "
             f"FROM lineitem WHERE l_orderkey >= {li2} "
             f"AND l_orderkey < {li2 + BULK_ROWS // 4}) TO STDOUT",
             "copy_out",
             ("bulk", "lineitem", li2, li2 + BULK_ROWS // 4, (0, 1, 2))),
    ] + write_block(rng, f"bulk_in_{n}", COPY_IN_ROWS) + known_failures(
        f"b{n}")
