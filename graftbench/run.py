#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
harness from source (once per source state), runs one workload in its
own JVM over the tables in data/sf0.1, checks every result outside the
timed region, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer
ones. Exits non-zero when a result is wrong or the run cannot complete.
See README.md in this directory.
"""
import argparse
import fcntl
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("weekly_refresh", "warehouse_queries", "incremental_upkeep")
# byte-identical copies of the repo's sf0.1 test tables (data/sf0.1/SHA256SUMS)
DATA = os.path.join(HERE, "data", "sf0.1")
HEAP = "3g"
DEADLINE_S = 170  # the whole run, build excluded, must end within 180 s
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def _stop_child(signum, _frame):
    """Stop the workload JVM before exiting on SIGTERM or SIGINT."""
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


CHILD = None


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def require_program():
    need = [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join(ROOT, "scripts", "check.py"),
            os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        fail("not a checkout of the program (missing: %s)" % ", ".join(
            os.path.relpath(p, ROOT) for p in missing))


def spark_home():
    """SPARK_HOME, or the install that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def locked(name):
    os.makedirs(BUILD, exist_ok=True)
    fh = open(os.path.join(BUILD, name + ".lock"), "w")
    fcntl.flock(fh, fcntl.LOCK_EX)
    return fh


def build():
    """Compile program + harness with sbt unless this source state is built."""
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    stamp = source_stamp()
    with locked("build"):
        if os.path.isdir(classes) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            return classes
        log("building program and benchmark harness (sbt compile)")
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        t = time.time()
        # offline resolution, as the repo's own test command sets it
        env = dict(os.environ, SPARK_HOME=spark_home())
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx4g")
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.call(
                ["sbt", "-batch", "-Dsbt.server.autostart=false",
                 "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "compile"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if rc != 0:
            fail("build failed, see .bench_build/build.log", 3)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t:.1f} s")
    return classes


def run_jvm(classes, data, work, args, budget_s):
    record = os.path.join(work, "record.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                    os.path.join(spark_home(), "jars", "*")]),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", record]
    os.makedirs(os.path.join(work, "tmp"))
    global CHILD
    with open(os.path.join(work, "jvm.log"), "w") as errlog:
        proc = CHILD = subprocess.Popen(cmd, stdout=errlog, stderr=subprocess.STDOUT,
                                        stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(record):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail("benchmark JVM " + ("timed out" if rc is None else f"exited {rc}"), 1)
    with open(record) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks

def weekly_expected(base, n_wallets, page):
    """Per-token aggregate of the loaded table, from FixturePageSource
    arithmetic: wallet w has (w%3+1)*page + w*7919%page transfers at
    blocks 0..n-1; token b%25, decimals [6,8,18,0][b%4], raw value
    (b%9+1)*1e6 + w, timestamp 1700000000 + 60*b."""
    import numpy as np
    acc = {}
    for i in range(n_wallets):
        w = base + i
        n = (w % 3 + 1) * page + w * 7919 % page
        b = np.arange(n, dtype=np.int64)
        dec = np.array([6, 8, 18, 0])[b % 4]
        qty = ((b % 9 + 1) * 1000000 + w).astype(np.float64) / np.power(10.0, dec)
        tok = b % 25
        for t in range(25):
            m = tok == t
            if not m.any():
                continue
            bt = b[m]
            a = acc.setdefault(f"TK{t}", [0, 0, 0.0, None, None, 0])
            a[0] += int(m.sum())
            a[1] += int(bt.sum())
            a[2] += float(qty[m].sum())
            lo, hi = 1700000000 + 60 * int(bt.min()), 1700000000 + 60 * int(bt.max())
            a[3] = lo if a[3] is None else min(a[3], lo)
            a[4] = hi if a[4] is None else max(a[4], hi)
            a[5] += 1
    return acc


def check_weekly(rec):
    c = rec["checks"]
    exp = weekly_expected(c["wallet_base"], c["wallets"], c["page_size"])
    total = sum(a[0] for a in exp.values())
    problems = []
    if total != 705114:  # the reference job: 29 wallets at offset=10000
        problems.append(f"expected {total} rows, the reference job loads 705114")
    wrong = set()
    for k, (agg, gens) in enumerate(zip(c["per_token"], c["generations"])):
        got = {r[0]: r[1:] for r in agg}
        ok = set(got) == set(exp) and gens == 2 and all(
            got[t][0] == e[0] and got[t][1] == e[1] and got[t][3] == e[3] and
            got[t][4] == e[4] and got[t][5] == e[5] and
            abs(got[t][2] - e[2]) <= 1e-9 * max(1.0, abs(e[2]))
            for t, e in exp.items() if t in got)
        if not ok:
            wrong.add(k)
    loaded = [o["landed"] for o in rec["ops"] if not o["error"]]
    if any(n != total for n in loaded):
        problems.append(f"loaded rows {sorted(set(loaded))} != {total}")
    if wrong:
        problems.append(f"{len(wrong)} jobs with a wrong per-token aggregate or "
                        f"generation count (want 2)")
    return len(wrong), problems


def oracle_frame(con, sql, cache_dir, canon):
    with open(os.path.join(DATA, "SHA256SUMS"), "rb") as fh:
        key = hashlib.sha1(fh.read() + sql.encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    df = canon(con.sql(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(df, fh)
    os.replace(path + ".tmp", path)
    return df


def check_entries(rec):
    """Each entry's dumped result against its DuckDB oracle, compared as
    scripts/check.py compares; every timed op's row count against the
    oracle's."""
    import glob
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check import TABLES, canon
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    dump = rec["checks"]["dump_dir"]
    oracle_sql = rec["checks"]["oracle"]
    bad, rows = {}, {}
    for name in rec["checks"]["entries"]:
        files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
        if name not in oracle_sql or not files:
            bad[name] = "no oracle" if files else "no result"
            continue
        spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
        duck_df = oracle_frame(con, oracle_sql[name], os.path.join(BUILD, "oracle"), canon)
        rows[name] = len(duck_df)
        if list(spark_df.columns) != list(duck_df.columns):
            bad[name] = "columns differ"
        elif len(spark_df) != len(duck_df):
            bad[name] = f"rows {len(spark_df)} vs oracle {len(duck_df)}"
        else:
            a = spark_df.astype(object).mask(spark_df.isna(), "\\N")
            b = duck_df.astype(object).mask(duck_df.isna(), "\\N")
            if not a.eq(b).all().all():
                bad[name] = "values differ"
    wrong_ops = 0
    for o in rec["ops"]:
        if o["error"]:
            continue
        if o["name"] in bad or o["rows"] != rows.get(o["name"]):
            wrong_ops += 1
    problems = [f"{n}: {why}" for n, why in sorted(bad.items())]
    if wrong_ops and not problems:
        problems.append(f"{wrong_ops} timed ops returned a row count other than the oracle's")
    return wrong_ops, problems


# --------------------------------------------------------------- metrics

def end_to_end(rec):
    ops = [o for o in rec["ops"] if not o["traced"]]
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    pass_s = [sum(o["s"] for o in p) for p in passes.values()]
    cpu_s = [sum(o["cpu_s"] for o in p) for p in passes.values()]
    rate = [sum(o["landed"] for o in p) / sum(o["s"] for o in p) for p in passes.values()]
    return {
        "setup_s": rec["setup_s"],
        "pass_s": statistics.median(pass_s),
        "rows_per_s": statistics.median(rate),
        "cpu_s": statistics.median(cpu_s),
        "live_heap_mb": statistics.median(o["heap_mb"] for o in ops),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)

    require_program()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classes = build()
    t_start = time.time()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(classes, DATA, work, args, DEADLINE_S - (time.time() - t_start) - 15)
        if args.workload == "weekly_refresh":
            wrong, problems = check_weekly(rec)
        else:
            wrong, problems = check_entries(rec)
        if args.trace:
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    BUILD, "trace", f"{args.workload}-seed{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    errors = sum(1 for o in rec["ops"] if o["error"])
    attempted = len(rec["ops"])
    failed = errors + wrong
    if args.trace:
        layers = rec["layers"]
        wanted = spec["per_layer"]
        missing = [m["name"] for m in wanted if m["name"] not in layers]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
        if missing:
            log("layers not reached by this workload (reported as 0): " + ", ".join(missing))
    else:
        wanted = spec["end_to_end"]
        e2e = end_to_end(rec)
        values = {m["name"]: e2e[m["name"]] for m in wanted}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    env = rec["env"]
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len({o['pass'] for o in rec['ops']})} ops={attempted} "
          f"load1={env['load1']} other_jvms={env['other_jvms']} cores={env['cores']} "
          f"jit_s={rec['jit_s']:.2f}")
    if rec["plan_changes"]:
        print(f"  PLAN CHANGE: {rec['plan_changes']} count metrics differ between passes")
        for k, c in enumerate(rec["pass_counts"]):
            print(f"    pass {k}: " + ", ".join(f"{n}={v:g}" for n, v in sorted(c.items())))
            print("      tasks, triggers per op: " + ", ".join(
                f"{o['name']}={o['tasks']},{o['triggers']}" for o in rec["ops"] if o["pass"] == k))
    per_op = {}
    for o in rec["ops"]:
        per_op.setdefault(o["name"], []).append(o["s"])
    slowest = sorted(per_op.items(), key=lambda kv: -statistics.median(kv[1]))
    print("  op medians (s): " + ", ".join(
        f"{n}={statistics.median(v):.3f}" for n, v in slowest))
    by_pass = {}
    for o in rec["ops"]:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["s"]
    print("  pass times (s): " + ", ".join(f"{by_pass[k]:.3f}" for k in sorted(by_pass)))
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    print(f"  error_rate {failed / attempted:.6g} ratio ({errors} failed, {wrong} wrong)")
    for p in problems:
        print(f"  WRONG: {p}")
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
