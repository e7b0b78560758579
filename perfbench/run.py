"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds graft and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), starts one JVM with one Spark session at
local[cores] and one closed-loop client, measures about --seconds, checks
every output against DuckDB (perfbench/check.py) and prints the result
as one JSON line, last on stdout. --trace 1 prints the per-layer
metrics instead of the end-to-end ones and writes the span file.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP_MB = 3072

# Sizes: the interactive warehouse at sf0.01 (60k lineitem rows) and a
# 10-day backfill of 2k events a day, so a run of either workload fits
# the time the benchmark is given; --tiny is the self-test's
# sf0.001-sized variant.
PANEL_SF, TINY_SF = 0.01, 0.001
# The query workload turns --seconds into a count of warm passes, one
# per PASS_S seconds (a pass takes 5-7 s on a 4-core VM), so every run
# does the same work and stops at the same point of the JVM's warm-up.
PASS_S = 6.0
ETL_DAYS, ETL_EVENTS_PER_DAY, TINY_ETL_EVENTS_PER_DAY = 10, 2000, 100

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    # A fixed heap and young generation: left to itself G1 sizes both
    # from GC timings, and peak RSS moved 10-15 % between runs.
    f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-Xmn400m",
    "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
JVMS = []  # every harness process started, stopped on the way out


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def panel_ops():
    with open(os.path.join(HERE, "panel.json")) as f:
        return [(q["name"], q["family"]) for q in json.load(f)["queries"]]


def make_inputs(workload, seed, tiny):
    """Generated once per (workload, seed, size) and reused; a marker
    file holding the digest is written last, so a cut-short generation
    is redone."""
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}{'-tiny' if tiny else ''}")
    marker = os.path.join(d, ".digest")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, f.read()
    shutil.rmtree(d, ignore_errors=True)
    rng = gen.rng_for(workload, seed)
    if workload == "interactive_panel":
        gen.warehouse(d, rng, TINY_SF if tiny else PANEL_SF)
    else:
        per_day = TINY_ETL_EVENTS_PER_DAY if tiny else ETL_EVENTS_PER_DAY
        gen.etl(d, rng, per_day * ETL_DAYS, ETL_DAYS)
    digest = gen.digest(d)
    with open(marker, "w") as f:
        f.write(digest)
    return d, digest


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def launch(cp, args, work, jvm_opts=()):
    """Starts the harness, its stderr to harness.log in the work
    directory; returns (process, seconds from start until READY)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(work, "harness.log"), "a") as log:
        t0 = time.monotonic()
        p = subprocess.Popen(["java", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS + list(jvm_opts) +
                             ["-cp", cp, "perfbench.Harness"] + args,
                             cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        JVMS.append(p)
    for line in p.stdout:
        if line.strip() == "READY":
            return p, time.monotonic() - t0
    finish(p, work)
    sys.exit("harness exited before its session was ready")


def finish(p, work):
    p.communicate()
    if p.returncode != 0:
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        sys.exit(f"harness exited with {p.returncode}:\n{tail}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)] if xs else 0.0


def checks(res, inputs, digest, corrupt):
    """Failing op names -> reason."""
    chk = check.Checker(inputs, os.path.join(BUILD, "oracle-cache"), digest)
    bad = {msg.split(" ", 1)[0]: msg for msg in res["failures"]}
    outputs = res["outputs"]
    if corrupt and outputs:
        corrupt_output(outputs[0]["path"])
    for o in outputs:
        op, path = o["op"], o["path"]
        if op.startswith("ctr_spike:"):
            why = chk.ctr_spike(path, o["oracle_sql"], o["delivered"])
            op = "deliver:" + op.split(":")[1]
        elif op.startswith("ctr_stream:"):
            why = chk.ctr_stream(path, o["files"])
            op = "deliver:" + op.split(":")[1]
        elif o.get("oracle_sql") and check.reads_inputs(o["oracle_sql"]):
            why = chk.against_oracle(path, o["oracle_sql"])
        else:
            why = chk.invariants(path, [s["rows"] for s in res["samples"] if s["op"] == op])
        if why:
            bad[op] = why
    if res.get("warehouse"):
        why = chk.warehouse(res["warehouse"])
        if why:
            bad["*"] = why
    return bad


def corrupt_output(path):
    """Self-test hook: drop one row from a written output."""
    import pyarrow.parquet as pq
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    t = pq.read_table(os.path.join(path, files[0]))
    pq.write_table(t.slice(0, max(0, t.num_rows - 1)) if t.num_rows else t,
                   os.path.join(path, files[0]))


def figures(res, workload, setup):
    """(gated end-to-end metrics, the other figures of the detail line,
    sample counts) from the harness's result, as {name: (value, unit)}."""
    if workload == "etl_backfill":
        # One backfill: its first delivery is the cold day a daily job
        # pays in a fresh process; the rest are the warm deliveries.
        warm = [q for q in res["passes"] if q["pass"] == 0]
        days = [s for s in res["samples"] if s["pass"] == 0]
        cold_s, cold_cpu = days[0]["exec_s"], days[0]["cpu_s"]
        ops = days[1:]
    else:
        warm = [q for q in res["passes"] if q["pass"] > 0 and not q["traced"]]
        ids = {q["pass"] for q in warm}
        ops = [s for s in res["samples"] if s["pass"] in ids]
        cold = next(q for q in res["passes"] if q["pass"] == 0)
        cold_s, cold_cpu = cold["wall_s"], cold["cpu_s"]
    lat = [s["build_s"] + s["exec_s"] for s in ops]
    by_op = {}
    for s in ops:
        by_op.setdefault(s["op"], []).append(s["cpu_s"])
    # Per pass and per operation the CPU time is a mean over the warm
    # passes: JIT compilation lands in whichever pass is running, and a
    # median of a few passes on a warm-up slope jumps between them.
    cpu = {
        "cold_cpu_s": (cold_cpu, "s"),
        "cpu_s": (mean([q["cpu_s"] for q in warm]), "s"),
        "op_cpu_geomean_s": (geomean([mean(v) for v in by_op.values()]), "s"),
    }
    # Gated: process CPU time (every thread: tasks, driver, JIT, GC) in
    # multiples of the CPU time of the host-speed reference sample taken
    # in the same run. Process CPU time leaves out steal, which moves
    # wall time by more than the bounds; the reference takes out how
    # fast the host runs the cores it does give, which moved CPU time by
    # up to half between runs of identical code.
    ref = median(res["host_samples"])
    e2e = {
        "setup_s": (setup, "s"),
        "cold_cpu_ref": (cold_cpu / ref, "ref"),
        "pass_cpu_ref": (cpu["cpu_s"][0] / ref, "ref"),
        "op_cpu_ref_geomean": (cpu["op_cpu_geomean_s"][0] / ref, "ref"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    wall = {
        "cold_pass_s": (cold_s, "s"),
        "pass_s": (median([q["wall_s"] for q in warm]), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_p90_s": (pct(lat, 0.9), "s"),
        "ops_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
    }
    # The same figures under each workload's own names (README).
    own = {
        "interactive_panel": {"query_p50_s": wall["op_p50_s"], "query_p90_s": wall["op_p90_s"],
                              "queries_per_s": wall["ops_per_s"]},
        "etl_backfill": {"backfill_s": wall["pass_s"], "day_p50_s": wall["op_p50_s"],
                         "stream_rows_per_s": (res["stream_rows"] / res["stream_s"]
                                               if res["stream_s"] else 0.0, "1/s")},
    }[workload]
    return e2e, {**cpu, **wall, **own}, {"ops": len(lat), "passes": len(warm)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001-sized inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one output (self-test)")
    a = ap.parse_args()

    spec = load_benchmark()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        sys.exit(f"unknown workload {a.workload}; one of {names}")
    build.build()  # compile first: no sources, no result

    load1 = os.getloadavg()[0]
    total0, steal0 = cpu_times()
    t_gen = time.monotonic()
    inputs, digest = make_inputs(a.workload, a.seed, a.tiny)
    t_gen = time.monotonic() - t_gen
    in_rows, in_bytes = gen.sizes(os.path.join(inputs, "landing") if a.workload == "etl_backfill"
                                  else inputs)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    ops = panel_ops() if a.workload == "interactive_panel" else []
    args = [f"workload={a.workload}", f"inputs={inputs}", f"work={work}",
            f"out={result_file}", f"warm_passes={max(1, round(a.seconds / PASS_S))}",
            f"trace={a.trace}",
            f"run_id={a.workload}-{a.seed}-{os.getpid()}",
            "ops=" + ",".join(f"{n}:{f}" for n, f in ops)]


    def dump_archive(classpath, opts):
        finish(launch(classpath, args + ["setup_only=1"], work, opts)[0], work)
    cp, cds = build.build(dump_archive)

    t_run = time.monotonic()
    p, setup = launch(cp, args, work, cds)
    finish(p, work)
    total1, steal1 = cpu_times()
    t_run = time.monotonic() - t_run

    with open(result_file) as f:
        res = json.load(f)
    t_check = time.monotonic()
    bad = checks(res, inputs, digest, a.corrupt)
    t_check = time.monotonic() - t_check

    timed = [s for s in res["samples"] if s["pass"] >= 0]
    attempted = len(timed) + len(res["errors"])
    failed = len(res["errors"]) + sum(1 for s in timed if "*" in bad or s["op"] in bad)
    e2e, shown, counts = figures(res, a.workload, setup)
    dsteal, dtotal = steal1 - steal0, total1 - total0
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "samples": counts,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "failures": bad, "errors": res["errors"][:20],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **shown}.items()},
        "inputs": {"rows": in_rows, "bytes": in_bytes, "digest": digest,
                   "bytes_per_heap": in_bytes / (res["max_heap_mb"] * 2 ** 20)},
        "host": {"steal_share": dsteal / dtotal if dtotal else 0.0, "load_avg_start": load1,
                 "cpus": res["cpus"], "speed_ref_s": median(res["host_samples"])},
        "phases_s": {"inputs": t_gen, "harness": t_run, "checks": t_check},
    }
    if a.trace:
        detail["spans_file"] = os.path.relpath(res["spans_file"], ROOT)
        detail["trace_overhead_pct"] = res["layers"].get("trace.overhead_pct")
    print(json.dumps(detail))

    if a.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    # TERM unwinds like an error, so the JVMs a cut-short run started
    # are stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    finally:
        for p in JVMS:
            if p.poll() is None:
                p.kill()
                p.wait()
