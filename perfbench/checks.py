"""Output checks, in DuckDB, against the program's own oracles.

Each returns a list of problems; an empty list means the run's outputs
are correct. A failed op is a problem too.
"""
import glob
import os


def _norm(row):
    return tuple(int(v) if isinstance(v, float) and v.is_integer() else v for v in row)


def _rows(rows):
    return sorted(_norm(r) for r in rows)


def _connect(documents):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
    return con


def check(workload, res, inputs, run_dir):
    problems = [f"op {o['id']} failed" for o in res["ops"] if not o["ok"]]
    if workload == "ingest_stream":
        n = res["batches"]
        if res["committed"] != n:
            problems.append(f"{res['committed']} of {n} batches committed")
        if not res["published"]:
            problems.append("compacted generation was not published")
        con = _connect(os.path.join(inputs, "ingest", "documents.parquet"))
        want = _rows(con.sql(res["oracle_sql"]).fetchall())
        got = _rows(r for o in res["ops"] if o["kind"] == "batch" and o["ok"] for r in o["rows"])
        if got != want:
            problems.append(f"stream census {got} != oracle {want}")
    elif workload == "pipe_cranker":
        import duckdb
        con = duckdb.connect()
        files = sorted(glob.glob(os.path.join(inputs, "pipe", "*.txt")))
        want = _norm(con.sql(
            f"""SELECT count(*), CAST(sum(length(upper(line))) AS BIGINT),
                       CAST(sum(('0x' || substring(md5(upper(line)), 1, 8))::BIGINT) AS BIGINT)
                FROM read_csv({files!r}, columns={{'line': 'VARCHAR'}}, delim='{chr(1)}',
                              quote='', escape='', header=false)""").fetchone())
        for o in res["ops"]:
            if o["ok"] and [_norm(r) for r in o["rows"]] != [want]:
                problems.append(f"{o['id']}: gathered {o['rows']} != upper(input) {want}")
    return problems
