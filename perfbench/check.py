"""Output checks, computed apart from the program with DuckDB.

Every result is compared by tools/check_oracle.py, the repository's
oracle check: same column names, same row count, and equal values column
by column after sorting columns by name and rows by all columns, with the
numeric kind of each column equal and floats compared exactly.

* `batch`: each query's result against the DuckDB oracle SQL it carries
  (`QueryDef.oracle`).
* `window`: the sink against DuckDB's tumbling-window aggregate over the
  on-time events of the consumed files, for every window the final
  watermark has closed; the rows dropped as late equal the generator's
  late count.
* `changelog`: the net state of the emitted changelog against DuckDB's
  inner join of the two inputs' net states.

Each check returns a list of mismatch descriptions; empty means correct.
"""
import contextlib
import io
import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402


def batch(data_dir, results_dir, oracles, names):
    """{query name: mismatches} for every query in `names`, whose results
    are in `results_dir`/NAME and oracle SQL in `oracles`."""
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as fh:
        json.dump({n: oracles[n] for n in names}, fh)
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(data_dir, results_dir)
    # one "NAME  VERDICT" line per query, then a blank line and a total
    found = {n: ["not checked"] for n in names}
    for line in report.getvalue().splitlines():
        if not line.strip():
            break
        name, verdict = line.split(None, 1)
        found[name] = [] if verdict == "OK" else [verdict]
    return found


def _against(work_dir, got_sql, want_sql):
    """Writes `got_sql`'s result where check_oracle reads a result and
    compares it with `want_sql`."""
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "stream"))
    try:
        duckdb.connect().execute(f"COPY ({got_sql}) TO "
                                 f"'{work_dir}/stream/got.parquet' (FORMAT PARQUET)")
    except duckdb.Error as e:  # no readable output is a failed check
        return [f"{type(e).__name__}: {e}"]
    return batch(work_dir, work_dir, {"stream": want_sql}, ["stream"])["stream"]


def _files(dirname, names):
    return "[" + ", ".join(f"'{dirname}/{n}'" for n in names) + "]"


def window(data_dir, sink_dir, n_files, late_dropped):
    """Mismatches of the window job after it consumed the first `n_files`."""
    man = json.load(open(f"{data_dir}/manifest.json"))
    files = [f["file"] for f in man["files"][:n_files]]
    w_ms, d_ms = man["window_s"] * 1000, man["delay_s"] * 1000
    final_wm = max(f["max_ts_ms"] for f in man["files"][:n_files]) - d_ms
    want_late = sum(f["late"] for f in man["files"][:n_files])
    out = []
    if late_dropped != want_late:
        out.append(f"rows dropped as late {late_dropped} != {want_late}")
    want = f"""
        SELECT ws, ws + {w_ms} AS we, user_id, COUNT(*) AS cnt,
               CAST(SUM(amount) AS BIGINT) AS total
        FROM (SELECT epoch_ms(ts) // {w_ms} * {w_ms} AS ws, user_id, amount
              FROM read_parquet({_files(data_dir, files)}) WHERE NOT late)
        GROUP BY ws, user_id HAVING ws + {w_ms} <= {final_wm}"""
    got = f"""
        SELECT epoch_ms(window_start) AS ws, epoch_ms(window_end) AS we,
               user_id, cnt, total
        FROM read_parquet('{sink_dir}/*.parquet')"""
    return out + _against(_work_dir(sink_dir), got, want)


def changelog(data_dir, sink_dir, n_files):
    """Mismatches between the join's net output and the join of net inputs."""
    man = json.load(open(f"{data_dir}/manifest.json"))
    names = man["files"][:n_files]
    weight = "CASE WHEN kind IN ('+I', '+U') THEN 1 ELSE -1 END"
    net = {side: f"""
        SELECT id, k, v, CAST(SUM({weight}) AS BIGINT) AS w
        FROM read_parquet({_files(f'{data_dir}/{side}', names)})
        GROUP BY ALL HAVING SUM({weight}) <> 0""" for side in ("left", "right")}
    want = f"""
        SELECT l.id AS l_id, l.k AS l_k, l.v AS l_v,
               r.id AS r_id, r.k AS r_k, r.v AS r_v, l.w * r.w AS w
        FROM ({net['left']}) l JOIN ({net['right']}) r ON l.k = r.k"""
    got = f"""
        SELECT l_id, l_k, l_v, r_id, r_k, r_v, CAST(SUM({weight}) AS BIGINT) AS w
        FROM read_parquet('{sink_dir}/*.parquet')
        GROUP BY ALL HAVING SUM({weight}) <> 0"""
    return _against(_work_dir(sink_dir), got, want)


def _work_dir(sink_dir):
    return os.path.join(os.path.dirname(os.path.abspath(sink_dir)), "check")
