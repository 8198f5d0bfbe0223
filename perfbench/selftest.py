"""Shows that every output check accepts a right result and rejects a
wrong one. Each check is fed a result computed independently with DuckDB
(so it must pass), then copies of it with one deliberate fault (so each
must fail). Needs no JVM.

    python3 perfbench/selftest.py [SCRATCH_DIR]

Exits 0 when every case behaves as expected.
"""
import os
import shutil
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402


def _write(df, d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    df.to_parquet(f"{d}/part-0.parquet", index=False)


def batch_cases(root):
    data = f"{root}/tables"
    gen.batch_tables(data, 7, 0.001)
    sql = ("SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) "
           "AS s FROM nation GROUP BY n_regionkey")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM '{data}/nation.parquet'")
    right = con.sql(sql).df()
    res = f"{root}/results"
    cases = {"right": right,
             "row missing": right.iloc[1:],
             "value changed": right.assign(s=right["s"] + 1),
             "type changed": right.assign(s=right["s"].astype(float))}
    for name, df in cases.items():
        _write(df, f"{res}/q")
        yield "batch", name, check.batch(data, res, {"q": sql}, ["q"])["q"]


def window_cases(root):
    data = f"{root}/window"
    gen.window_stream(data, 7, 40, 200, 20)
    man = check.json.load(open(f"{data}/manifest.json"))
    late = sum(f["late"] for f in man["files"])
    final_wm = max(f["max_ts_ms"] for f in man["files"]) - man["delay_s"] * 1000
    files = check._files(data, [f["file"] for f in man["files"]])
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    right = con.sql(f"""
        SELECT time_bucket(INTERVAL 10 SECOND, ts::TIMESTAMP) AS window_start,
               time_bucket(INTERVAL 10 SECOND, ts::TIMESTAMP)
                 + INTERVAL 10 SECOND AS window_end,
               user_id, COUNT(*) AS cnt, SUM(amount)::BIGINT AS total
        FROM read_parquet({files}) WHERE NOT late GROUP BY 1, 2, 3
        HAVING epoch_ms(window_end) <= {final_wm}""").df()
    sink = f"{root}/window_sink"
    cases = {"right": (right, late),
             "window missing": (right.iloc[1:], late),
             "count changed": (right.assign(cnt=right["cnt"] + 1), late),
             "late count changed": (right, late + 1)}
    for name, (df, dropped) in cases.items():
        _write(df, sink)
        yield "window", name, check.window(data, sink, 40, dropped)


def changelog_cases(root):
    data = f"{root}/changelog"
    gen.changelog_stream(data, 7, 10, 100, 200, 3)
    names = [f"part-{i:05d}.parquet" for i in range(10)]
    con = duckdb.connect()
    for side in ("left", "right"):
        con.execute(f"""
            CREATE VIEW {side}_net AS SELECT id, k, v,
              SUM(CASE WHEN kind IN ('+I', '+U') THEN 1 ELSE -1 END) AS w
            FROM read_parquet({check._files(f'{data}/{side}', names)})
            GROUP BY ALL HAVING w <> 0""")
    # a changelog whose net effect is the join: each joined row inserted
    right = con.sql("""
        SELECT '+I' AS kind, l.id AS l_id, l.k AS l_k, l.v AS l_v,
               r.id AS r_id, r.k AS r_k, r.v AS r_v
        FROM left_net l JOIN right_net r ON l.k = r.k
        CROSS JOIN LATERAL (SELECT UNNEST(range(CAST(l.w * r.w AS BIGINT))))""").df()
    extra = right.iloc[:1].copy()
    retracted = right.copy()
    retracted.loc[0, "kind"] = "-D"
    cases = {"right": right,
             "row missing": right.iloc[1:],
             "row added": pd.concat([right, extra]),
             "kind flipped": retracted}
    sink = f"{root}/changelog_sink"
    for name, df in cases.items():
        _write(df, sink)
        yield "changelog", name, check.changelog(data, sink, 10)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else ".bench_out/selftest"
    shutil.rmtree(root, ignore_errors=True)
    ok = True
    for cases in (batch_cases, window_cases, changelog_cases):
        for chk, name, found in cases(root):
            good = (not found) if name == "right" else bool(found)
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {chk:<9} {name:<18} "
                  f"{'; '.join(found)[:100] if found else 'accepted'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
