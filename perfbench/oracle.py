"""DuckDB oracle digests for the benchmark's correctness check.

The oracle is ``__spark_entry__.oracle_sql()``: one self-contained
``WITH RECURSIVE`` query per output, each repeating the shared
``sql.templates.prelude()``. DuckDB inlines CTEs, so evaluated one by
one every query re-derives the whole prelude (about 7 s for the edge
CTE alone on 4 vCPUs, at any input size). Here each prelude CTE a
query needs is evaluated once, in prelude order, into a temp table of
the same name, and the query's own tail (its extra CTEs and final
SELECT) runs against those tables. The SQL text is unchanged;
``tests/test_perfbench.py`` checks that both evaluations agree.

Digests are cached under the benchmark's cache dir, keyed by the input
digest and the oracle SQL text, so a repeated seed skips DuckDB.

Run as a module (``python3 -m perfbench.oracle <events dir> <input
digest> <out json> <cache dir> <name>...``) so DuckDB's memory and
threads are gone before any timer starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile


def digest(con, relation: str) -> dict:
    """Row count plus an order-insensitive digest of a relation (a
    table name, a parenthesised query or a parquet scan): column names
    sorted, every value cast to text (NULL as \\N), one hash per row,
    hashes summed. Both sides are digested by DuckDB, so the oracle's
    and the engine's values are rendered by one formatter."""
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM {relation} LIMIT 0").description)
    row = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash(concat_ws(chr(31), {row}))), 0) AS VARCHAR) "
        f"FROM {relation}"
    ).fetchone()
    return {"rows": n, "md5": hashlib.md5(f"{'|'.join(cols)}:{h}".encode()).hexdigest()}


def compare(got: dict, want: dict) -> str | None:
    """None when ``got`` matches ``want``; otherwise the reason. Zero
    rows on both sides is a failure: it proves nothing."""
    if want["rows"] == 0:
        return "vacuous: oracle returned 0 rows"
    if got["rows"] != want["rows"]:
        return f"row count {got['rows']} != oracle {want['rows']}"
    if got["md5"] != want["md5"]:
        return "digest differs from oracle"
    return None


def check_outputs(out_dir: str, tables, counts: dict, want: dict) -> list[str]:
    """Failures of the parquet tables written under ``out_dir``: each
    must match oracle query ``kg_<table>`` and the count the job read
    back."""
    failures = []
    with connect() as con:
        for table in tables:
            path = os.path.join(out_dir, table, "*.parquet").replace("'", "''")
            got = digest(con, f"read_parquet('{path}')")
            reason = compare(got, want[f"kg_{table}"])
            if reason is None and got["rows"] != counts[table]:
                reason = f"read-back count {counts[table]} != {got['rows']} rows written"
            if reason:
                failures.append(f"{table}: {reason}")
    return failures


def _skip_ws(s: str, i: int) -> int:
    while i < len(s):
        if s[i].isspace() or s[i] == ",":
            i += 1
        elif s.startswith("--", i):
            i = s.index("\n", i) if "\n" in s[i:] else len(s)
        else:
            break
    return i


def _paren_block_end(s: str, i: int) -> int:
    """Index just past the parenthesised block opening at ``s[i]``,
    skipping quoted strings, quoted identifiers and ``--`` comments."""
    depth = 0
    while i < len(s):
        c = s[i]
        if c in "'\"":
            i = s.index(c, i + 1) + 1
            continue
        if s.startswith("--", i):
            i = s.index("\n", i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in oracle prelude")


def split_ctes(prelude: str) -> list[tuple[str, str]]:
    """``WITH RECURSIVE a AS (...), b AS (...)`` -> [(name, definition)]
    where definition is the text after the name (``AS [MATERIALIZED] (...)``)."""
    head = "WITH RECURSIVE"
    if not prelude.lstrip().startswith(head):
        raise ValueError("oracle prelude does not start with WITH RECURSIVE")
    s = prelude.lstrip()
    i = _skip_ws(s, len(head))
    out = []
    while i < len(s):
        j = i
        while j < len(s) and (s[j].isalnum() or s[j] == "_"):
            j += 1
        name = s[i:j]
        k = s.index("(", j)
        end = _paren_block_end(s, k)
        out.append((name, s[j:end]))
        i = _skip_ws(s, end)
    return out


def connect():
    """In-memory DuckDB that spills, if it must, into the temp dir
    (TMPDIR), not the working directory."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}/duckdb'")
    return con


class Oracle:
    """One DuckDB connection over ``<events_dir>/events.parquet``;
    prelude CTEs are materialized on first use, with their inputs."""

    def __init__(self, events_dir: str):
        from stakgraph_spark.sql.templates import prelude

        self.prelude = prelude()
        self.ctes = split_ctes(self.prelude)
        self.done: set[str] = set()
        self.con = connect()
        path = os.path.join(events_dir, "events.parquet").replace("'", "''")
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")

    def _materialize(self, text: str) -> None:
        """Create the temp table of every CTE ``text`` refers to,
        dependencies first (prelude order is a topological order)."""
        need, todo = set(), [text]
        while todo:
            t = todo.pop()
            for name, definition in self.ctes:
                if name not in need and re.search(rf"\b{name}\b", t):
                    need.add(name)
                    todo.append(definition)
        for name, definition in self.ctes:
            if name in need and name not in self.done:
                self.con.execute(
                    f"CREATE TEMP TABLE {name} AS WITH RECURSIVE {name} {definition} "
                    f"SELECT * FROM {name}"
                )
                self.done.add(name)

    def relation(self, sql: str) -> str:
        """An oracle query as a parenthesised relation over the
        materialized prelude."""
        if not sql.startswith(self.prelude):
            raise ValueError("oracle query does not extend the shared prelude")
        tail = sql[len(self.prelude):].lstrip()
        if tail.startswith(","):
            tail = "WITH RECURSIVE " + tail[1:]
        self._materialize(tail)
        return f"({tail})"

    def digest(self, sql: str) -> dict:
        return digest(self.con, self.relation(sql))

    def close(self) -> None:
        self.con.close()


# bump when digest() changes, so cached digests of the old form go unused
DIGEST_FORM = "duckdb-text-hash-sum-1"


def cache_key(input_digest: str, sql: str) -> str:
    return hashlib.sha256(f"{DIGEST_FORM}\n{input_digest}\n{sql}".encode()).hexdigest()


def digests(events_dir: str, input_digest: str, names: list[str], cache_dir: str) -> dict:
    """{name: digest} for the named oracle queries, from the cache when
    present, else computed with DuckDB and cached."""
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    out, todo = {}, []
    for name in names:
        p = os.path.join(cache_dir, cache_key(input_digest, sqls[name]) + ".json")
        if os.path.exists(p):
            with open(p) as f:
                out[name] = json.load(f)
        else:
            todo.append((name, p))
    if todo:
        os.makedirs(cache_dir, exist_ok=True)
        oracle = Oracle(events_dir)
        try:
            for name, p in todo:
                out[name] = oracle.digest(sqls[name])
                with open(p + ".tmp", "w") as f:
                    json.dump(out[name], f)
                os.replace(p + ".tmp", p)
        finally:
            oracle.close()
    return out


if __name__ == "__main__":
    events_dir, input_digest, out_json, cache_dir, *query_names = sys.argv[1:]
    result = digests(events_dir, input_digest, query_names, cache_dir)
    with open(out_json, "w") as f:
        json.dump(result, f)
