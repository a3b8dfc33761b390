#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_mix --seed 0 --seconds 20 --trace 0

Run from the root of a source checkout. A run builds the program and
the harness (sbt, offline) into the checkout when their sources differ
from the last build there; every run derives its inputs from `--seed`,
computes the reference outputs with DuckDB, runs the workload in one
JVM (`local[N]`, N = cores), checks every output and prints one JSON
result as the last line of stdout.
With `--trace 1` it reports the per-layer metrics instead of the
end-to-end ones and writes the span trace under the build directory.
See METHOD.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import derive  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"] for kind in ("end_to_end", "per_layer") for m in SPEC[kind]}
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g -XX:-UsePerfData "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of what the build and the references depend on: the
    program's and the harness's sources and build definitions, the
    reference code, and the checkout's location (the classpath points
    into it)."""
    h = hashlib.sha256(ROOT.encode())
    h.update(file_hash(oracle.__file__))
    for base in (ROOT, os.path.join(HERE, "harness")):
        files = [os.path.join(base, "build.sbt")]
        project = os.path.join(base, "project")
        if os.path.isdir(project):
            files += sorted(os.path.join(project, f) for f in os.listdir(project)
                            if f.endswith((".sbt", ".scala", ".properties")))
        for d, dirs, fs in os.walk(os.path.join(base, "src")):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + file_hash(f))
    return h.hexdigest()[:16]


def file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).digest()


def build():
    """Compile program + harness when their sources differ from the last
    build in this checkout; returns the build's directory, which holds
    the classpath, the program's oracle SQL and the references."""
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src"))):
        sys.exit("perfbench: no program source here (build.sbt and src/ are "
                 "missing); run from the root of a source checkout")
    stamp = source_stamp()
    out = os.path.join(BUILD, "build", stamp)
    current = os.path.join(BUILD, "build", "current")
    if os.path.exists(current) and open(current).read() == stamp:
        return out
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, capture_output=True, text=True,
        timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit(f"perfbench: build failed (exit {p.returncode})")
    with open(os.path.join(out, "classpath"), "w") as f:
        f.write(p.stdout.strip().splitlines()[-1].strip())
    if java(out, ["--dump-oracle", os.path.join(out, "program.json")], timeout=120) != 0:
        sys.exit("perfbench: could not read the program's oracle SQL")
    with open(current, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f}s")
    return out


def java(build_dir, args, timeout, log_file=None):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = open(os.path.join(build_dir, "classpath")).read()
    # no -Xms: the heap, and so resident memory, grows with demand
    cmd = (["java", *JDK_OPENS, f"-Xmx{CONFIG['heap']}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Harness"] + args)
    out = open(log_file, "w") if log_file else subprocess.DEVNULL
    try:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9
    finally:
        if log_file:
            out.close()


# ----------------------------------------------------------- inputs

def inputs(seed):
    """Input tables for `seed`, derived once per checkout and version of
    the derivation."""
    data = os.path.join(BUILD, "data", f"seed_{seed}-{file_hash(derive.__file__).hex()[:12]}")
    if not os.path.isdir(data):
        derive.derive(fixture_dir(), data, seed)
    return data


def fixture_dir():
    """The project's sf0.1 fixture, where TESTDATA.md records it."""
    if os.environ.get("PERFBENCH_FIXTURE_DIR"):
        return os.environ["PERFBENCH_FIXTURE_DIR"]
    m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(os.path.join(ROOT, "TESTDATA.md")).read(), re.M)
    if not m:
        sys.exit("perfbench: TESTDATA.md names no sf0.1 fixture; set PERFBENCH_FIXTURE_DIR")
    return m.group(1).rstrip("/")


def references(workload, seed, rows, data, build_dir):
    """Reference outputs for `rows` on `data`, cached with the build."""
    path = os.path.join(build_dir, f"refs_{workload}_seed{seed}.json")
    if os.path.exists(path):
        refs = json.load(open(path))
        if all(r in refs for r in rows):
            return refs
    con = oracle.connect(data, os.path.join(BUILD, "tmp", "duckdb"), cores())
    sql = json.load(open(os.path.join(build_dir, "program.json")))["oracle_sql"]
    refs = {}
    for r in rows:
        if r == "replica":
            refs[r] = dict(zip(("rows", "digest"), oracle.cdc_replica(con)))
        elif r in sql:
            refs[r] = dict(zip(("rows", "digest"), oracle.digest(con, sql[r])))
        elif r == "q_approx_hll_sketch":
            refs[r] = {"distinct_users": oracle.distinct_users(con)}
        elif r == "q_sim_ivf_ann":
            refs[r] = {"topk": oracle.topk_neighbours(con, sql["q_sim_cosine_topk"])}
    con.close()
    with open(path, "w") as f:
        json.dump(refs, f)
    return refs


# ------------------------------------------------------------ checks

def check(row, got, ref):
    """None if the output of `row` is correct, else the reason."""
    if not got.get("ok"):
        return got.get("err", "check failed to run")
    if ref is None:
        return "no reference for this row"
    if "digest" in ref:
        if (got["rows"], got["digest"]) != (ref["rows"], ref["digest"]):
            return f"digest {got['rows']}/{got['digest']} != reference {ref['rows']}/{ref['digest']}"
        return None
    result = got.get("result") or []
    if "distinct_users" in ref:
        exact = ref["distinct_users"]
        pairs = []
        for r in result:
            pairs.append((r["approx_users"], exact["per_type"][r["event_type"]]))
            if "global_users" in r:
                pairs.append((r["global_users"], exact["global"]))
            if "exact_users" in r and r["exact_users"] != exact["per_type"][r["event_type"]]:
                return f"exact_users {r['exact_users']} != {exact['per_type'][r['event_type']]}"
        if len(result) != len(exact["per_type"]):
            return f"{len(result)} groups, expected {len(exact['per_type'])}"
        worst = max(abs(a - e) / e for a, e in pairs)
        return None if worst < CONFIG["hll_max_rel_error"] else f"HLL relative error {worst:.3f}"
    if "topk" in ref:
        found = {}
        for r in result:
            found.setdefault(str(r["qid"]), set()).add(int(r["nid"]))
        recalls = [len(found.get(q, set()) & set(t)) / len(t) for q, t in ref["topk"].items()]
        recall = sum(recalls) / len(recalls)
        floor = CONFIG["recall_floor"][row]
        return None if recall >= floor else f"recall@k {recall:.3f} < {floor}"
    return "unknown reference kind"


# ----------------------------------------------------------- metrics

def tail(samples):
    """(percentile, value): the highest whole percentile with at least 10
    samples beyond it (nearest rank), e.g. p90 at 100 samples; the
    maximum, with percentile None, below 20 samples."""
    n = len(samples)
    if n < 20:  # no percentile of at least p50 has 10 samples beyond it
        return None, max(samples)
    p = math.floor(100 * (n - 10) / n) / 100
    s = sorted(samples)
    return p, s[max(0, math.ceil(p * n) - 1)]


def end_to_end(workload, h, result_rows):
    setup_s = h["setup_s"]
    if workload == "cdc_upsert":
        batches = h["batches"]
        polls = [b for b in batches if b["batch"] >= 1]
        poll_ms = [b["trigger_ms"] for b in polls]
        m = {
            "setup_s": setup_s,
            "cold_s": batches[0]["trigger_ms"] / 1e3,
            "wall_s": h["drain_ms"] / 1e3,
            "op_p50_ms": statistics.median(poll_ms),
            "op_tail_ms": tail(poll_ms)[1],
            "rows_per_s": sum(b["changes"] for b in polls) / (sum(poll_ms) / 1e3),
        }
    else:
        # a row's operation latency is the median of its timed warm runs
        runs = {}
        for o in h["ops"]:
            if o["ok"] and re.fullmatch(r"warm\d+", o["pass"]):
                runs.setdefault(o["row"], []).append(o["ms"])
        op_ms = [statistics.median(v) for v in runs.values()]
        wall_s = statistics.median(h["warm_pass_ms"]) / 1e3
        m = {
            "setup_s": setup_s,
            "cold_s": h["cold_ms"] / 1e3,
            "wall_s": wall_s,
            "op_p50_ms": statistics.median(op_ms),
            "op_tail_ms": tail(op_ms)[1],
            "rows_per_s": result_rows / wall_s,
        }
    return m


def self_times(spans):
    """Per layer name: total span time and self time (span minus the part
    covered by its child spans)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(c["start_ms"], lo), min(c["end_ms"], hi)) for c in kids.get(s["id"], []))
        covered, cur = 0.0, lo
        for a, b in ivs:
            if b > cur:
                covered += b - max(a, cur)
                cur = b
        name = "job" if s["name"].startswith("job ") else s["name"]
        t = out.setdefault(name, {"total_ms": 0.0, "self_ms": 0.0, "count": 0})
        t["total_ms"] += hi - lo
        t["self_ms"] += (hi - lo) - covered
        t["count"] += 1
    return out


def config_key(workload, rows=None):
    """Identifies a workload's configuration in this checkout's run history."""
    w = dict(CONFIG["workloads"][workload])
    if rows:
        w["rows"] = rows.split(",")
    return json.dumps(w, sort_keys=True)


def write_trace(workload, seed, h, metrics, rows):
    """Spans, per-operation layer splits, self times and the tracing
    overhead against this checkout's untraced runs of the same workload."""
    os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
    untraced = []
    hist = os.path.join(BUILD, "results", f"{workload}.jsonl")
    if os.path.exists(hist):
        for line in open(hist):
            r = json.loads(line)
            if not r["trace"] and r["config"] == config_key(workload, rows):
                untraced.append(r["wall_s"])
    traced_wall = end_to_end(workload, h, 0)["wall_s"]
    overhead = {"traced_wall_s": traced_wall,
                "untraced_wall_s_median": statistics.median(untraced) if untraced else None}
    if untraced:
        overhead["overhead_s"] = traced_wall - overhead["untraced_wall_s_median"]
    doc = {"workload": workload, "seed": seed, "per_layer": metrics,
           "tracing_overhead": overhead, "self_times": self_times(h["trace"]),
           "op_layers": h["op_layers"], "spans": h["trace"]}
    path = os.path.join(BUILD, "trace", f"{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f)
    log(f"trace written to {os.path.relpath(path, ROOT)}; tracing overhead {overhead}")


# --------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, default=derive.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    # for the benchmark's own tests
    ap.add_argument("--rows", default=None, help="comma list overriding the workload's rows")
    ap.add_argument("--count-mode", action="store_true", help="time count() instead of the noop sink")
    ap.add_argument("--corrupt-ref", default=None, help="row whose reference digest is altered")
    ap.add_argument("--raw-out", default=None, help="also write the harness document here")
    a = ap.parse_args(argv)

    w = CONFIG["workloads"][a.workload]
    build_dir = build()
    data = inputs(a.seed)
    if a.workload == "cdc_upsert":
        rows = ["replica"]
        hargs = ["--poll-batch", str(w["poll_batch"])]
    else:
        rows = a.rows.split(",") if a.rows else w["rows"]
        hargs = ["--rows", ",".join(rows), "--warmup-passes", str(w["warmup_passes"]),
                 "--warm-passes", str(w["warm_passes"]), "--count-mode", str(int(a.count_mode))]
    refs = references(a.workload, a.seed, rows, data, build_dir)
    if a.corrupt_ref:
        ref = refs[a.corrupt_ref]
        ref["digest"] = str(int(ref["digest"]) + 1)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "harness.json")
    if os.path.exists(out):
        os.remove(out)
    t0_ms = int(time.time() * 1000)
    code = java(build_dir, ["--workload", a.workload, "--data", data, "--work", run_dir,
                     "--out", out, "--cores", str(cores()),
                     "--trace", str(a.trace), "--t0-ms", str(t0_ms)] + hargs,
                timeout=CONFIG["jvm_timeout_s"], log_file=os.path.join(run_dir, "jvm.log"))
    if code != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: harness exited with {code}; see {os.path.relpath(run_dir, ROOT)}/jvm.log")
    h = json.load(open(out))

    # attempted / failed: every timed operation, plus every output check
    failures = []
    if a.workload == "cdc_upsert":
        attempted = len(h["batches"]) + 1
    else:
        ops = h["ops"]
        attempted = len(ops)
        failures += [f"{o['id']}: {o['err']}" for o in ops if not o["ok"]]
    checks = {c["row"]: c for c in h["checks"]}
    attempted += len(rows)
    result_rows = 0
    for r in rows:
        why = check(r, checks.get(r, {"ok": False, "err": "not checked"}), refs.get(r))
        if why:
            failures.append(f"check {r}: {why}")
        else:
            result_rows += checks[r].get("rows", len(checks[r].get("result") or []))
    for f in failures:
        log("FAILED", f)
    if a.raw_out:
        with open(a.raw_out, "w") as f:
            json.dump(dict(h, failures=failures), f)

    if a.trace:
        layers = dict(h["layers"], **{"jvm.peak_rss_mb": h["peak_rss_mb"],
                                      "jvm.peak_heap_mb": h["peak_heap_mb"]})
        metrics = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
        write_trace(a.workload, a.seed, h, metrics, a.rows)
    else:
        metrics = end_to_end(a.workload, h, result_rows)
    record = {"trace": a.trace, "seed": a.seed, "config": config_key(a.workload, a.rows),
              "wall_s": end_to_end(a.workload, h, 0)["wall_s"], "failed": len(failures)}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
