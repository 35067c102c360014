#!/usr/bin/env python3
"""The engine's benchmark: one workload, one run, outputs checked.

    python3 olapbench/run.py --workload relational|operators|btc_ledger \\
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the engine and the harness
from source (sbt, offline; skipped while sources are unchanged), starts
the harness JVM on local[<cores>], and checks every op's output against
DuckDB. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The line
before it holds the run's metadata; the full record, and with --trace 1
the op -> build/action -> job -> stage spans, stay under
.bench_build/olapbench/. See olapbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import btcgen  # noqa: E402
import check  # noqa: E402

SF = os.environ.get("OLAPBENCH_SF_DIR", "/root/testdata/sf0.1")
WARM_SF = os.environ.get("OLAPBENCH_WARM_SF_DIR", "/root/testdata/sf0.01")
# a fixed maximum heap and young generation, and no -Xms: the resident set
# then follows what the program keeps (a heap sized to 3 GB up front pinned
# peak_rss_mb at ~3.7 GB on every workload). GCTimeRatio=1 lets G1 grow the
# heap only when an allocation needs the room, not when recent GC pauses ran
# long: that timing-driven growth spread operators' peak_rss_mb by 23 %.
JVM_HEAP = ["-Xmx3g", "-Xmn1g", "-XX:GCTimeRatio=1"]
SETUPS = 3
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[olapbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    """Everything the build reads: the engine's build definition and main
    sources, and the harness's."""
    harness = os.path.join(HERE, "harness")
    files = [os.path.join(root, "build.sbt"), os.path.join(harness, "build.sbt")]
    for d in (os.path.join(root, "project"), os.path.join(harness, "project")):
        files += [os.path.join(d, n) for n in os.listdir(d) if n.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(root, "src", "main"), os.path.join(harness, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(root, out):
    """Compile engine and harness with sbt; returns the runtime classpath.
    A stamp over the sources skips sbt when nothing changed."""
    stamp = check.sha256_files(source_files(root)) + ":" + \
        hashlib.sha256("\n".join(source_files(root)).encode()).hexdigest()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    repos = os.path.expanduser("~/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                    "-Dsbt.offline=true -Xmx2g"))
    t0 = time.time()
    log("building engine and harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def commit(root):
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except OSError:
        pass
    return "src-sha256:" + check.sha256_files(
        [f for f in source_files(root) if f.startswith(os.path.join(root, "src"))])[:16]


def run_jvm(cp, out, work, args, log_path):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=cpus,
               GRAFT_USER_LOCATION=os.path.join(os.getcwd(), "data", "user_location.ndjson"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + \
        JVM_HEAP + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         f"-Djava.io.tmpdir={tmp}", "-cp", cp, "olapbench.Main"] + \
        [f"{k}={v}" for k, v in args.items()]
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; log: {log_path}")
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"harness exited {rc}; log: {log_path}")


def known_or_not(name, got, exp, known):
    """For an op whose output failed the check: whether it fails only in
    the way recorded for it (check.known_mismatch)."""
    return name in known and check.known_mismatch(got, exp, known[name])[0]


def check_queries(res, out, sf, root, known):
    """Compare each op's Spark output with the DuckDB oracle result of its
    SparkEntry.oracleSql entry. Returns per-op (ok, detail, known
    mismatch) and a planted-row self-test pair."""
    fp = check.sha256_files([os.path.join(sf, f"{t}.parquet") for t in check.SF_TABLES] +
                            [os.path.join(root, "data", "user_location.ndjson")])
    refs = check.References(os.path.join(out, "refcache"), lambda: check.sf_connection(sf), fp)
    con = check.duckdb.connect()
    oks, sample = [], None
    for op in res["ops"]:
        if "error" in op or "check" not in op:
            oks.append((False, op.get("error", "no output written"), False))
            continue
        got = check.read_output(con, op["check"])
        sql = res["oracle_sql"].get(op["name"])
        if got is None:
            oks.append((False, "no parquet output", False))
        elif sql is None:
            oks.append((len(got) > 0, f"rows-only check, {len(got)} rows", False))
        else:
            exp = refs.get(sql)
            ok, detail = check.compare(got, exp)
            oks.append((ok, detail, not ok and known_or_not(op["name"], got, exp, known)))
            if ok and sample is None and len(exp) > 0:
                sample = (got, exp)
    return oks, sample


# ledger.sql's {satoshi}: exact, or as the known defect rounds it (half up
# to tens of satoshi, i.e. BTC at 7 decimal places; satoshi are positive)
SATOSHI = {"exact": "satoshi", "val_7dp": "((satoshi + 5) // 10 * 10)"}


def ledger_oracle(data, flat, variant):
    """ledger.sql over the generated chain (`flat`: its arrays flattened)
    in DuckDB: the connection with one table per stage, and the pre/post
    cohort fits."""
    con = check.duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET memory_limit='2GB'")
    for name, table in flat.items():
        con.register(name, table)
    with open(os.path.join(HERE, "ledger.sql")) as f:
        con.execute(f.read().replace("{data}", data).replace("{satoshi}", SATOSHI[variant]))
    fits = {side: ledger_fit(con.execute(f"SELECT * FROM fit_{side}").fetchone())
            for side in ("pre", "post")}
    return con, fits


def check_ledger(res, data, known):
    """Compare each btc_ledger stage with the benchmark's own DuckDB SQL
    over the generated chain, and the cohort fits with fits computed from
    the DuckDB ledgers. An op that fails is a known mismatch only if it
    matches, under the same rules, the oracle variant recorded for it."""
    flat = btcgen.flattened(data)
    oracles = {"exact": ledger_oracle(data, flat, "exact")}

    def oracle(variant):
        if variant not in oracles:
            oracles[variant] = ledger_oracle(data, flat, variant)
        return oracles[variant]

    expected = {}  # (variant, table) -> sorted reference rows, shared by the passes

    def reference(variant, table):
        if (variant, table) not in expected:
            expected[variant, table] = check.sorted_rows(oracle(variant)[0], table)
        return expected[variant, table]

    con = oracles["exact"][0]
    oks, sample = [], None
    for op in res["ops"]:
        if "error" in op or "check" not in op:
            oks.append((False, op.get("error", "no output written"), False))
            continue
        variant = known.get(op["name"], {}).get("oracle")
        if op["name"] == "cohort.prepost":
            k = int(op["check"].split(":")[1])
            got = next(f for f in res["fits"] if f["pass"] == k)
            ok, detail = compare_fits(got, oracle("exact")[1])
            oks.append((ok, detail, not ok and variant is not None and
                        compare_fits(got, oracle(variant)[1])[0]))
            continue
        files = glob.glob(os.path.join(op["check"], "*.parquet"))
        if not files:
            oks.append((False, "no parquet output", False))
            continue
        table = op["name"].split(".")[1]
        got = check.sorted_rows(con, f"read_parquet({files!r})")
        exp = reference("exact", table)
        ok, detail = check.compare(got, exp, presorted=True)
        oks.append((ok, detail, not ok and variant is not None and check.compare(
            got, reference(variant, table), presorted=True)[0]))
        if ok and (sample is None or len(exp) < len(sample[1])) and len(exp) > 0:
            sample = (got, exp)
    return oks, sample


def ledger_fit(row):
    """Ols.fit's closed form from the moments (sxy, sxx, syy, mx, my, n)."""
    sxy, sxx, syy, mx, my, n = row
    if n < 2 or sxy is None or sxx == 0:
        return {"n": n}
    slope = sxy / sxx
    r2 = sxy * sxy / (sxx * syy)
    return {"slope": slope, "intercept": my - slope * mx, "r2": r2,
            "rmse": (n * syy * (1 - r2) / n) ** 0.5, "n": n}


def compare_fits(got, exp):
    for side in ("pre", "post"):
        for k, b in exp[side].items():
            a = got[side].get(k)
            if a is None or abs(a - b) > 1e-9 * max(1.0, abs(a), abs(b)):
                return False, f"fit {side}.{k}: got {a!r} oracle {b!r}"
    return True, f"fits n={exp['pre']['n']}/{exp['post']['n']}"


def self_test(sample):
    """The planted-wrong-row test: a correct output with one cell changed
    must fail the comparison."""
    if sample is None:
        return False
    got, exp = sample
    return not check.compare(check.plant_wrong_row(got), exp)[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of an engine checkout: build.sbt and src/main/scala/graft are missing")
    for d in (SF, WARM_SF):
        if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            fail(f"test data {d} is missing")

    out = os.path.join(root, ".bench_build", "olapbench")
    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp = build(root, out)

    wl = spec["workloads"][a.workload]
    meta = {"seed": a.seed, "commit": commit(root), "jvm_heap": JVM_HEAP, "sf": SF, "setups": SETUPS}
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "passes": wl["timed_passes"],
            "sf": SF, "work": work, "out": os.path.join(work, "result.json"), "setups": SETUPS}
    if a.workload == "btc_ledger":
        data = os.path.join(work, "data")
        t0 = time.time()
        files, digest = btcgen.generate(data, a.seed)
        meta["data"] = {"gen_s": time.time() - t0, "sha256": digest,
                        "rows": {k: v[0] for k, v in files.items()},
                        "bytes": {k: v[1] for k, v in files.items()}}
        args["data"] = data
    else:
        args["ops"] = ",".join(wl["ops"])
        args["warm_sf"] = WARM_SF
        meta["ops"] = {"every": wl["every"], "of": wl["of"], "list": wl["ops"]}

    t0 = time.time()
    run_jvm(cp, out, work, args, os.path.join(out, f"{a.workload}.log"))
    meta["jvm_s"] = time.time() - t0
    with open(args["out"]) as f:
        res = json.load(f)
    meta.update(res["meta"])

    t0 = time.time()
    known = spec["known_mismatches"]
    if a.workload == "btc_ledger":
        oks, sample = check_ledger(res, args["data"], known)
    else:
        oks, sample = check_queries(res, out, SF, root, known)
    meta["check_s"] = time.time() - t0
    attempted = len(res["ops"])
    failed_ops = [(op["name"], d) for op, (ok, d, _) in zip(res["ops"], oks) if not ok]
    unexpected = [op["name"] for op, (ok, _, kn) in zip(res["ops"], oks) if not ok and not kn]
    planted_caught = self_test(sample)
    attribution_ok = res["meta"].get("attribution_test", {}).get("ok", True)
    correct = not unexpected and planted_caught and attribution_ok and len(oks) == attempted
    meta.update({"failed_ops": failed_ops, "unexpected_failures": unexpected,
                 "failed_frac": len(failed_ops) / attempted, "planted_row_caught": planted_caught})

    untraced = [p for p in res["passes"] if not p["traced"]]
    op_s = [op["build_s"] + op["action_s"] for op, p in
            ((op, res["passes"][op["pass"]]) for op in res["ops"]) if not p["traced"]]
    # the first set-up is the JVM's cold one, which every tool pays; the
    # re-created sessions after it run warm and stay in the metadata. The
    # fixture prewarm runs once, on the last session.
    setups = res["setups"]
    setup_s = setups[0]["start_s"] + setups[0]["warmup_s"] + max(s["prewarm_s"] for s in setups)
    meta["op_samples"] = len(op_s)
    meta["passes"] = res["passes"]
    meta["setup_runs"] = setups
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
        meta["spans"] = os.path.join(work, "spans.jsonl")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(p["wall_s"] for p in untraced), "unit": "s"},
            "op_p50_s": {"value": statistics.median(op_s), "unit": "s"},
            "ok_frac": {"value": 1 - len(failed_ops) / attempted, "unit": "frac"},
            "peak_rss_mb": {"value": res["meta"]["peak_rss_mb"], "unit": "MB"},
        }
    with open(os.path.join(out, f"last_{a.workload}_trace{a.trace}.json"), "w") as f:
        json.dump({"meta": meta, "metrics": metrics}, f, indent=1)
    for d in ("data", "pipeline", "warm", "check"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if unexpected:
        log(f"unexpected failures: {failed_ops}")
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed_ops),
                      "metrics": metrics}))


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if "_mb" in last:
        return "MB"
    if last in ("job_overlap", "write_amp", "overhead_frac", "op_sum_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
