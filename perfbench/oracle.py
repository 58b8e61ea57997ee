"""Output oracle: DuckDB runs the reference SQL that the program's
`graft.DuckSql` builds (the same authority `tools/check.py` uses) on the
same parquet inputs. Results are cached by input digest and SQL text, so a
seed's oracle is computed once per checkout."""
import hashlib
import json
import os

import duckdb


def expected(data_dir, tables, steps, digest_exprs, input_digest, cache_dir):
    """Map each step name to the values the Spark op must report for it.
    Returns (outputs, cached)."""
    key = hashlib.sha256(json.dumps([input_digest, steps, digest_exprs]).encode()).hexdigest()
    path = os.path.join(cache_dir, key[:32] + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), True
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    digest = ", ".join(digest_exprs)
    out = {}

    def pairs(name, sql):
        con.execute(f"CREATE TEMP TABLE {name} AS {sql}")
        out[name] = [int(x) for x in con.execute(f"SELECT {digest} FROM {name}").fetchone()]

    for s in steps:
        if s["kind"] == "pairs":
            pairs(s["name"], s["sql"])
        elif s["kind"] == "row":
            out[s["name"]] = [int(x) for x in con.execute(s["sql"]).fetchone()]
        elif s["kind"] == "rs":
            l_widows, r_widows = con.execute(s["widows"]).fetchone()
            l_indexing = l_widows > r_widows
            pairs(s["name"], s["sql"] if l_indexing else s["alt"])
            out["l_indexing"] = [int(l_indexing)]
        else:
            raise ValueError(f"unknown oracle step kind {s['kind']!r}")
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out, False
