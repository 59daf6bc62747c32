"""Output checks for one benchmark run, computed apart from the engine.

* Every operation of the last pass, and every stored query's first (build)
  call, is compared with its `SparkEntry.oracleSql` statement run in DuckDB
  over the same parquet inputs: column names, row count and the canonical
  row hash of `tools/verify_local.py`.
* Every earlier pass must have written exactly the same bag of rows as
  the last one.
* The stream ingest is checked by properties, with shingles and Jaccard
  computed here in Python:
  - each batch's survivors are a duplicate-free subset of the batch
    (survivors plus drops are the batch);
  - every dropped document has a partner with exact 3-word-shingle
    Jaccard >= the threshold among the documents indexed before its batch
    or the lower-id documents of its own batch (the ingest also dedups a
    batch against itself);
  - the index grows by exactly the survivors: its shingle store holds
    the initial corpus plus every survivor, with each document's full
    shingle set.
"""
import os
import re
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from verify_local import TABLES, table_hash  # noqa: E402

UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "shuffle_mb": "MB", "build_s": "s",
    "artifact_mb": "MB", "ingest_docs_per_s": "docs/s",
    "sources.read_ms": "ms", "sources.read_jobs": "count",
    "registry.construct_s": "s", "registry.construct_jobs": "count",
    "views.persisted": "count", "views.cached_mb": "MB",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.util": "ratio", "exec.spill_mb": "MB",
    "exec.shuffle_read_mb": "MB", "jvm.gc_s": "s",
    "artifacts.builds": "count", "artifacts.probe_construct_s": "s",
    "streams.batch_s": "s", "streams.add_batch_s": "s", "streams.index_rows": "count",
    "trace.overhead_s": "s",
}

WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text, n=3):
    """The engine's shingle contract: normalize (lower, trim, collapse
    whitespace), split on spaces, distinct word n-grams."""
    words = WS.sub(" ", text.strip(" \t\n\x0b\f\r").lower()).split(" ")
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def _result(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return [c.lower() for c in rel.columns], rel.fetchall()


def _compare(con, name, path, sql):
    """None if the written result equals the oracle's, else a reason."""
    try:
        s_cols, s_rows = _result(con, path)
        duck = con.sql(sql)
        d_cols = [c.lower() for c in duck.columns]
        d_rows = duck.fetchall()
    except Exception as e:  # a failing oracle or unreadable result is a mismatch
        return f"{name}: {type(e).__name__}: {str(e)[:200]}"
    if sorted(s_cols) != sorted(d_cols):
        return f"{name}: columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{name}: {len(s_rows)} rows != oracle {len(d_rows)}"
    if table_hash(s_rows, s_cols) != table_hash(d_rows, d_cols):
        return f"{name}: row hash differs from oracle"
    return None


def _same(con, a, b):
    """Whether two written results hold the same bag of rows."""
    ra, rb = (f"(FROM read_parquet('{p}/*.parquet'))" for p in (a, b))
    return con.sql(f"SELECT count(*) FROM ({ra} EXCEPT ALL {rb} UNION ALL "
                   f"({rb} EXCEPT ALL {ra}))").fetchone()[0] == 0


def check_ops(con, record):
    c = record["checks"]
    sink, last = c["sink"], c["last_pass"]
    oracle = record["oracle"]
    problems = []
    for name in c["build"]:
        bad = _compare(con, f"build/{name}", f"{sink}/build/{name}", oracle[name])
        if bad:
            problems.append(bad)
    checked = set()
    for name in c["passes"][last - 1]:
        bad = _compare(con, name, f"{sink}/p{last}/{name}", oracle[name])
        if bad:
            problems.append(bad)
        else:
            checked.add(name)
    for p, names in enumerate(c["passes"][:-1], start=1):
        for name in names:
            if name in checked and not _same(con, f"{sink}/p{p}/{name}", f"{sink}/p{last}/{name}"):
                problems.append(f"p{p}/{name}: result differs from the last pass")
    return problems


def check_ingest(con, record):
    """Returns one problem string per batch that breaks a property."""
    c = record["checks"]
    docs = dict(con.sql(f"SELECT doc_id, text FROM {c['augmented_sql']}").fetchall())
    held = {d for d in docs if d % 8 == 7}  # the harness's held-out slice
    sh = {d: shingles(t) for d, t in docs.items()}
    indexed = {d for d in docs if d not in held and sh[d]}
    problems = []
    n_batches = int(c["batches"])
    for b in range(n_batches):
        batch = [r[0] for r in con.sql(
            f"SELECT doc_id FROM read_parquet('{c['ingest']}/stage/batch-{b:03d}.parquet')"
        ).fetchall()]
        surv_path = f"{c['ingest']}/survivors/batch={b}"
        surv = [r[0] for r in con.sql(
            f"SELECT doc_id FROM read_parquet('{surv_path}/*.parquet')").fetchall()] \
            if os.path.isdir(surv_path) else []
        bset = set(batch)
        reasons = []
        if len(surv) != len(set(surv)) or not set(surv) <= bset or not bset <= set(docs) \
                or not bset <= held:
            reasons.append("survivors are not a duplicate-free subset of the batch")
        for d in sorted(bset - set(surv)):
            pool = indexed | {x for x in bset if x < d}
            if not any(jaccard(sh[d], sh[p]) >= c["threshold"] for p in pool if p != d):
                reasons.append(f"doc {d} dropped without a partner >= {c['threshold']}")
                break
        if reasons:
            problems.append(f"ingest batch {b}: {'; '.join(reasons)}")
        indexed |= {d for d in surv if sh.get(d)}
    rows = con.sql(f"SELECT id, count(*), count(DISTINCT sh) FROM "
                   f"read_parquet('{c['index']}/shingles/*.parquet') GROUP BY id").fetchall()
    got = {i: n for i, n, _ in rows}
    want = {d: len(sh[d]) for d in indexed}
    if got != want or any(n != nd for _, n, nd in rows):
        problems.append(f"index holds {len(got)} docs / {sum(got.values())} shingles, "
                        f"expected {len(want)} / {sum(want.values())}")
    return problems


def check_run(record, data_dir, threads):
    """All problems found in one run (empty when every check passes)."""
    con = duckdb.connect()
    con.sql(f"SET threads = {int(threads)}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return check_ops(con, record) + check_ingest(con, record)
