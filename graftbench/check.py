"""Independent answers and output checks for the graft benchmark.

Nothing here calls the engine. The expected latest-value table is derived
from KafkaTestSource's record formula; the expected curation results come from
DuckDB over the same documents parquet; the program's written tables are read
back with DuckDB, not Spark. `selftest()` shows every checker rejects an
answer with a single perturbed row. Run this file to execute the self-test on
seed 1.
"""
import os

import duckdb


# ------------------------------------------------------------ answers

def _i32(x):
    """x wrapped to a JVM Int."""
    return (x + 2**31) % 2**32 - 2**31


def expected_latest(log):
    """user_id -> (user_id, event_type, value, event_id): the latest record
    per key of the log, from KafkaTestSource's formula
    (uid = p*1000 + offset % keys, type = "e" + offset % 3,
    k = p*100000 + offset*7 as int32)."""
    start, end, keys = log["start"], log["start"] + log["records"], log["keys"]
    out = {}
    for p in range(log["partitions"]):
        for j in range(keys):
            o = end - 1 - ((end - 1 - j) % keys)
            if o < start:
                continue
            k = _i32(p * 100000 + _i32(o * 7))
            uid = p * 1000 + o % keys
            out[uid] = (uid, "e" + str(o % 3), float(k), o)
    return out


def _funnel_sql(oracle_q139):
    """The program's declared q139 oracle SQL, rewritten to return the doc_ids
    its verdict keeps. Fails loudly if the SQL no longer has that shape."""
    verdict = "verdict AS (\n  SELECT d.lang, d.source, ent.n_tok,"
    final = "\nSELECT lang, source,"
    if verdict not in oracle_q139 or final not in oracle_q139:
        raise ValueError("q139 oracle SQL changed shape; update check.py")
    sql = oracle_q139.replace(verdict,
                              "verdict AS (\n  SELECT d.doc_id, d.lang, d.source, ent.n_tok,")
    return sql[:sql.rindex(final)] + "\nSELECT doc_id FROM verdict WHERE kept"


def expected_curation(data_dir, oracle_q139):
    """(report rows, kept doc_id -> text) from DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(data_dir, 'documents.parquet')}'")
    report = sorted(tuple(r) for r in con.execute(oracle_q139).fetchall())
    kept = {r[0] for r in con.execute(_funnel_sql(oracle_q139)).fetchall()}
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    return report, {d: texts[d] for d in kept}


def read_table(path, columns):
    """Rows of a parquet directory written by the program, read by DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    def visible(d):
        # like Spark's file index: hidden names are skipped, except the
        # `_col=value` partition directories
        return all(not s.startswith((".", "_")) or "=" in s
                   for s in os.path.relpath(d, path).split(os.sep) if s != ".")
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) if visible(d)
             for f in fs if f.endswith(".parquet") and not f.startswith((".", "_"))]
    if not files:
        return []
    rel = con.read_parquet(files, hive_partitioning=False)
    return [tuple(r) for r in rel.project(", ".join(columns)).fetchall()]


# ----------------------------------------------------------- checkers
# Each returns None when the answer is right, else a one-line reason.

def same_rows(got, want):
    g = sorted(tuple(r) for r in got)
    w = sorted(tuple(r) for r in want)
    if g == w:
        return None
    extra = [r for r in g if r not in w][:1]
    missing = [r for r in w if r not in g][:1]
    return f"{len(g)} rows vs {len(w)} expected; unexpected {extra}, missing {missing}"


def check_get(key, got, table):
    return same_rows(got, [table[key]] if key in table else [])


def check_getall(keys, got, table):
    return same_rows(got, [table[k] for k in set(keys) if k in table])


def check_enrich(probe, got, table, width):
    """Probe row i (key probe[i]) joined to its key's row, or to nulls."""
    want = [(i,) + (table[k] if k in table else (k,) + (None,) * (width - 1))
            for i, k in enumerate(probe)]
    return same_rows(got, want)


# ----------------------------------------------------------- per round

def check_round(workload, rnd, exp, validate_rows=0):
    """(ops attempted, ops failed, reasons) for one round's answers."""
    table, width, write_checks = exp["table"], exp["width"], []
    if workload == "changelog_table":
        if rnd["input_rows"] != exp["records"]:
            write_checks.append(f"sum of numInputRows {rnd['input_rows']} != {exp['records']}")
        got = read_table(rnd["dir"], ["user_id", "last_event_type", "last_value",
                                      "last_event_id"])
        write_checks.append(same_rows(got, table.values()))
    else:
        got = read_table(os.path.join(rnd["dir"], "report"),
                         ["lang", "source", "docs_in", "docs_kept", "tokens_kept"])
        write_checks.append(same_rows(got, exp["report"]))
        got = read_table(os.path.join(rnd["dir"], "corpus"), ["doc_id", "text"])
        write_checks.append(same_rows(got, table.values()))
        if validate_rows != 0:
            write_checks.append(f"validateCorpus returned {validate_rows} rows")
    reasons = [f"write: {w}" for w in write_checks if w]
    failed = 1 if reasons else 0
    for g in rnd["gets"]:
        w = check_get(g["key"], g["rows"], table)
        if w:
            failed += 1; reasons.append(f"get {g['key']}: {w}")
    for g in rnd["getalls"]:
        w = check_getall(g["keys"], g["rows"], table)
        if w:
            failed += 1; reasons.append(f"getAll: {w}")
    for e in rnd["enrich"]:
        w = check_enrich(e["probe"], e["rows"], table, width)
        if w:
            failed += 1; reasons.append(f"enrich: {w}")
    attempted = 1 + len(rnd["gets"]) + len(rnd["getalls"]) + len(rnd["enrich"])
    return attempted, failed, reasons


# ----------------------------------------------------------- self-test

def _perturb(row):
    """The same row with one field changed."""
    r = list(row)
    i = len(r) - 1
    r[i] = (r[i] + 1) if isinstance(r[i], (int, float)) else str(r[i]) + "x"
    return tuple(r)


def selftest(table, report=None):
    """Every checker accepts the right answer and rejects it with one row
    perturbed. Returns a list of failures (empty when all hold)."""
    bad = []
    keys = sorted(table)[:8]
    rows = [table[k] for k in keys]
    cases = [
        ("view", lambda rs: same_rows(rs, rows), rows),
        ("get", lambda rs: check_get(keys[0], rs, table), rows[:1]),
        ("getAll", lambda rs: check_getall(keys, rs, table), rows),
        ("enrich", lambda rs: check_enrich(keys, rs, table, len(rows[0])),
         [(i,) + r for i, r in enumerate(rows)]),
    ]
    if report:
        cases.append(("report", lambda rs: same_rows(rs, report), report))
    for name, check, good in cases:
        if check(good) is not None:
            bad.append(f"{name} checker rejects the right answer")
        wrong = list(good)
        wrong[len(wrong) // 2] = _perturb(wrong[len(wrong) // 2])
        if check(wrong) is None:
            bad.append(f"{name} checker accepts a perturbed row")
    return bad


if __name__ == "__main__":
    import sys
    import tempfile
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import gen
    with tempfile.TemporaryDirectory(dir=".") as d:
        info = gen.write_inputs(1, d)
        failures = selftest(expected_latest(info["log"]))
        con = duckdb.connect()
        texts = dict(con.execute(
            f"SELECT doc_id, text FROM '{d}/documents.parquet'").fetchall())
        failures += selftest({k: (k, t) for k, t in texts.items()})
    print("\n".join(failures) or "self-test passed")
    sys.exit(1 if failures else 0)
