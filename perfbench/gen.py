"""Input generators for the benchmark. Everything is a pure function of its
seed, so the same seed always yields the same files. The fact tables are
not generated: the registry's own 0.01- and 0.1-scale test tables are read
as they are.

- `catalog(seed, dir)`: a `system.tables` snapshot of 3.6k objects plus the
  generator's ground truth for the lineage chain.
- `ddl_sessions(seed, n)`: ClickHouse DDL/DML sessions and the statements
  that replay each one in DuckDB.
"""
import json
import os
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd


def _write(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    df.to_parquet(tmp, index=False, engine="pyarrow", compression="snappy",
                  row_group_size=max(1, len(df)))
    os.replace(tmp, path)


# ---------------------------------------------------------------- catalog

N_DB = 6
TABLES_PER_DB = 200
VIEWS_PER_DB = 396
CONSTANT_VIEWS_PER_DB = 4
LAYERS = 6


def catalog(seed: int, out: str) -> dict:
    """A `system.tables` snapshot: per database, TABLES_PER_DB base tables
    and VIEWS_PER_DB views in LAYERS layers. A layer-j view reads 1-2
    objects of layer j-1 and 0-1 base tables; 10% of reads cross into
    another database. Views mix plain joins, CTEs, subqueries and
    materialized views; ~2% carry unparseable DDL. CONSTANT_VIEWS_PER_DB
    more views read no table and no view reads them, so they are the
    graph's isolated nodes. Returns the ground truth the lineage chain
    must reproduce."""
    r = np.random.default_rng(seed)
    dbs = [f"db{d:02d}" for d in range(N_DB)]
    rows = []
    per_layer = VIEWS_PER_DB // LAYERS
    layer_objs = defaultdict(list)   # (db, layer) -> names; layer 0 = tables
    for db in dbs:
        for t in range(TABLES_PER_DB):
            name = f"t{t:04d}"
            rows.append((db, name, "MergeTree",
                         f"CREATE TABLE {db}.{name} (id UInt64, v Float64) "
                         "ENGINE = MergeTree ORDER BY id"))
            layer_objs[(db, 0)].append(name)
    deps = {}       # full view name -> sorted dep list (parseable views only)
    broken = 0
    for layer in range(1, LAYERS + 1):
        for db in dbs:
            for k in range(per_layer):
                name = f"v{layer}_{k:03d}"
                full = f"{db}.{name}"

                def pick(lvl: int) -> str:
                    src_db = dbs[r.integers(0, N_DB)] if r.random() < 0.1 else db
                    objs = layer_objs[(src_db, lvl)]
                    return f"{src_db}.{objs[r.integers(0, len(objs))]}"
                refs = [pick(layer - 1) for _ in range(r.integers(1, 3))]
                if r.random() < 0.5:
                    refs.append(pick(0))
                shape = r.integers(0, 4)
                if r.random() < 0.02:
                    engine = "View"
                    ddl = f"CREATE VIEW {full} AS SELECT 'unterminated FROM {refs[0]}"
                    broken += 1
                else:
                    # unqualified refs resolve against the view's own db
                    txt = [x.split(".", 1)[1] if x.startswith(db + ".") and r.random() < 0.5
                           else x for x in refs]
                    engine, ddl = _view_ddl(full, txt, int(shape))
                    deps[full] = sorted(set(refs))
                rows.append((db, name, engine, ddl))
                layer_objs[(db, layer)].append(name)
    for db in dbs:
        for k in range(CONSTANT_VIEWS_PER_DB):
            full = f"{db}.c{k}"
            rows.append((db, f"c{k}", "View", f"CREATE VIEW {full} AS SELECT "
                         f"toUInt64({int(r.integers(0, 1000))}) AS id, 1.5 AS v"))
            deps[full] = []
    rows.append(("system", "tables", "SystemTables", None))
    rows.append(("INFORMATION_SCHEMA", "TABLES", "View", None))
    order = r.permutation(len(rows))
    df = pd.DataFrame([rows[i] for i in order],
                      columns=["database", "name", "engine", "create_table_query"])
    os.makedirs(out, exist_ok=True)
    _write(df, f"{out}/catalog.parquet")
    truth = _lineage_truth(deps, {f"{db}.{t}" for db in dbs for t in layer_objs[(db, 0)]})
    truth.update(objects=len(rows), views=len(deps) + broken, errors=broken)
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


def _view_ddl(full: str, refs: list, shape: int) -> tuple:
    a = refs[0]
    rest = refs[1:]
    if shape == 0:      # plain joins
        body = f"SELECT x.id, x.v FROM {a} AS x" + "".join(
            f" JOIN {t} AS j{i} ON j{i}.id = x.id" for i, t in enumerate(rest))
        return "View", f"CREATE VIEW {full} AS {body}"
    if shape == 1:      # CTE over the first ref, the rest joined to it
        body = (f"WITH base AS (SELECT id, v FROM {a} WHERE v > 0) "
                f"SELECT b.id, sum(b.v) AS s FROM base AS b" + "".join(
                    f" LEFT JOIN {t} AS j{i} ON j{i}.id = b.id" for i, t in enumerate(rest))
                + " GROUP BY b.id")
        return "View", f"CREATE VIEW {full} AS {body}"
    if shape == 2:      # FROM-subquery plus IN-subqueries
        body = f"SELECT s.id FROM (SELECT id, v FROM {a}) AS s" + (
            " WHERE " + " AND ".join(f"s.id IN (SELECT id FROM {t})" for t in rest)
            if rest else "")
        return "View", f"CREATE VIEW {full} AS {body}"
    # materialized view with its own storage engine
    body = f"SELECT id, count() AS n FROM {a}" + "".join(
        f" INNER JOIN {t} USING (id)" for t in rest) + " GROUP BY id"
    return "MaterializedView", (f"CREATE MATERIALIZED VIEW {full} "
                                f"ENGINE = SummingMergeTree ORDER BY id AS {body}")


def _lineage_truth(deps: dict, tables: set) -> dict:
    """Edge set, closure pair count and longest path by a plain BFS, the
    isolated and table-classified node counts, plus the Mermaid node/edge
    line counts the renderer must print."""
    edges = sorted((d, v) for v, ds in deps.items() for d in ds)
    nodes = set(deps) | {d for ds in deps.values() for d in ds}
    children = defaultdict(list)
    for d, v in edges:
        children[d].append(v)
    pairs = 0
    for s in nodes:              # BFS reachability from every node
        seen, stack = set(), list(children[s])
        while stack:
            x = stack.pop()
            if x not in seen:
                seen.add(x)
                stack.extend(children[x])
        pairs += len(seen)
    level = {}

    def lvl(n: str) -> int:
        if n not in level:
            ds = deps.get(n, [])
            level[n] = 0 if not ds else 1 + max(lvl(d) for d in ds)
        return level[n]
    max_level = max((lvl(n) for n in nodes), default=0)
    return {"edges": [list(e) for e in edges], "edge_count": len(edges),
            "closure_pairs": pairs, "max_level": max_level,
            "mermaid_node_lines": len(nodes), "mermaid_edge_lines": len(edges),
            "isolated": sum(1 for ds in deps.values() if not ds),
            "table_nodes": len(nodes & tables)}


# ---------------------------------------------------------------- DDL

ENGINES = ["mt", "replacing", "partitioned"]
ORDER_KEYS = 150000     # o_orderkey is 0..149999 in the 0.1-scale orders table


def ddl_sessions(seed: int, n: int) -> list:
    """`n` sessions, engine kinds in a fixed rotation; the seed picks each
    session's key range, literals and mutation predicates. Every session
    writes the same number of rows, so sessions cost the same across seeds.
    Each entry: {"ch": [statements], "duck": [statements], "table": name}."""
    r = np.random.default_rng(seed)
    out = []
    for i in range(n):
        kind = ENGINES[i % len(ENGINES)]
        t = f"bench_s{seed}_{i}"
        lo = int(r.integers(0, ORDER_KEYS - 20000))
        hi = lo + 20000
        m = int(r.integers(5, 12))
        cut = int(r.integers(20000, 80000))
        vals = [(-1 - j, round(float(r.uniform(10, 1000)), 2),
                 ["F", "O", "P"][int(r.integers(0, 3))]) for j in range(5)]
        values = ", ".join(f"({k}, 1, {p}, '{s}')" for k, p, s in vals)
        if kind == "mt":
            eng = "MergeTree ORDER BY k"
        elif kind == "replacing":
            eng = "ReplacingMergeTree(v) ORDER BY k"
        else:
            eng = "MergeTree PARTITION BY status ORDER BY k"
        sel = (f"SELECT status, count() AS n, "
               f"CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total "
               f"FROM {t} GROUP BY status ORDER BY status")
        ins1 = (f"SELECT o_orderkey, 1, o_totalprice, o_orderstatus FROM orders "
                f"WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")
        ins2 = (f"SELECT o_orderkey, 2, o_totalprice * 2, o_orderstatus FROM orders "
                f"WHERE o_orderkey >= {lo} AND o_orderkey < {lo + 5000}")
        ch = [f"DROP TABLE IF EXISTS {t}",
              f"CREATE TABLE {t} (k Int64, v Int64, price Float64, status String) "
              f"ENGINE = {eng}",
              f"INSERT INTO {t} {ins1}",
              f"INSERT INTO {t} {ins2}",
              f"INSERT INTO {t} VALUES {values}",
              f"ALTER TABLE {t} DELETE WHERE price < {cut}",
              f"ALTER TABLE {t} UPDATE price = price + 1 WHERE k % {m} = 0",
              f"OPTIMIZE TABLE {t} FINAL",
              sel,
              f"DROP TABLE {t}"]
        duck = [f"CREATE TABLE {t} (k BIGINT, v BIGINT, price DOUBLE, status VARCHAR)",
                f"INSERT INTO {t} {ins1}",
                f"INSERT INTO {t} {ins2}",
                f"INSERT INTO {t} VALUES {values}",
                f"DELETE FROM {t} WHERE price < {cut}",
                f"UPDATE {t} SET price = price + 1 WHERE k % {m} = 0"]
        if kind == "replacing":   # OPTIMIZE FINAL keeps the max version per key
            duck.append(f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM {t} "
                        f"QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1")
        duck.append(sel.replace("count()", "count(*)").replace("Decimal(18, 2)", "DECIMAL(18, 2)")
                    .replace("Float64", "DOUBLE"))
        out.append({"table": t, "ch": ch, "duck": duck})
    return out


def ddl_expected(sessions: list, base_dir: str) -> list:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{base_dir}/orders.parquet')")
    res = []
    for s in sessions:
        for q in s["duck"][:-1]:
            con.execute(q)
        res.append([list(row) for row in con.execute(s["duck"][-1]).fetchall()])
        con.execute(f"DROP TABLE {s['table']}")
    return res
