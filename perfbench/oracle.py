"""batch-mix correctness: each query's result against the DuckDB oracle.

Compares the way tools/oracle_check.py does, with its own `canon`
(loaded from that file, so the two cannot drift): column names match
case-insensitively, columns are ordered by lower-cased name, and rows
are compared in order, value by value, floats bit-exactly. Oracle
results are cached under <cache>/<sha256(data tag, SQL)>.json, so
DuckDB runs once per query and set of tables.
"""
import ast
import glob
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_CHECK = os.path.join(os.path.dirname(HERE), "tools", "oracle_check.py")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def load_canon(path=ORACLE_CHECK):
    """`canon` and the imports it needs, taken from oracle_check.py
    without running that script's top level."""
    tree = ast.parse(open(path).read(), path)
    keep = [ast.Import(names=[ast.alias(name=m)]) for m in ("math", "decimal", "datetime")]
    keep += [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon"]
    ns = {}
    mod = ast.fix_missing_locations(ast.Module(body=keep, type_ignores=[]))
    exec(compile(mod, path, "exec"), ns)
    return ns["canon"]


def _ordered(cols):
    return sorted(range(len(cols)), key=lambda i: cols[i].lower())


def oracle_result(con, sql, cache, tag, canon):
    key = hashlib.sha256(f"{tag}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache, key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    rel = con.sql(sql)
    cols, rows = rel.columns, rel.fetchall()
    order = _ordered(cols)
    res = {"columns": cols, "rows": [[canon(r[i]) for i in order] for r in rows]}
    os.makedirs(cache, exist_ok=True)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(res, fh)
    os.replace(tmp, path)
    return res


def compare(name, out_dir, want, canon):
    """None when the Spark result equals the oracle's, else the reason."""
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return "no spark output"
    tbl = pq.read_table(files[0] if len(files) == 1 else files)
    scols = tbl.column_names
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in want["columns"]):
        return f"columns spark={sorted(scols)} oracle={sorted(want['columns'])}"
    data = [tbl.column(i).to_pylist() for i in _ordered(scols)]
    rows = list(zip(*data)) if data else []
    if len(rows) != len(want["rows"]):
        return f"rows spark={len(rows)} oracle={len(want['rows'])}"
    for ri, (sr, orow) in enumerate(zip(rows, want["rows"])):
        if [canon(v) for v in sr] != orow:
            return f"row {ri} differs"
    return None


def check(out_dir, cache, data_dir, tag):
    """Returns (queries compared, [(query, reason)] for every mismatch
    or oracle error)."""
    import duckdb
    canon = load_canon()
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = []
    for name in sorted(sqls):
        try:
            want = oracle_result(con, sqls[name], cache, tag, canon)
        except Exception as e:  # an oracle error is a failed comparison
            bad.append((name, f"oracle error: {e}"))
            continue
        why = compare(name, out_dir, want, canon)
        if why:
            bad.append((name, why))
    return len(sqls), bad


def selfcheck():
    canon = load_canon()
    assert canon(None) == "NULL" and canon(1.5) == "1.5" and canon([1, None]) == "[1,NULL]"
