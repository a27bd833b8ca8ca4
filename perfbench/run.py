#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload <registry_sweep|table_writes|vendor_dag>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It builds the engine and the
harness from source (perfbench/build.py; skipped when unchanged),
generates the workload's inputs from the seed (perfbench/gen.py), runs
the harness JVM for one closed-loop measurement, checks the outputs,
and prints the metrics: `[metric]` lines with the workload's own names,
units and sample counts, then, as the last line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
JSON metrics are the end-to-end ones of BENCHMARK.json, with --trace 1
the per-layer ones (perfbench/spans.py). Times are net of hypervisor
steal (see net_ms); the [metric] lines add the raw wall figures. Everything
it writes stays under the build directory ($CARGO_TARGET_DIR, default
.bench_build).
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

# Inputs per workload: corpus scale factor (None = no corpus), vendor
# tenants -> rows (train + test), and whether order batches land for
# commits. All of it fits in memory and the page cache.
INPUTS = {
    "registry_sweep": (0.01, {"alitran": 2000, "easy_destiny": 1500,
                              "to_my_place_ai": 1000}, False),
    "table_writes": (0.01, {}, True),
    "vendor_dag": (None, {"alitran": 12000, "easy_destiny": 6000,
                          "to_my_place_ai": 3000, "metro_cab": 24000}, False),
}
# The op each workload's latency metrics are taken over, and the names
# its [metric] lines give the op latency and the whole pass.
MAIN_OP = {"registry_sweep": "key", "table_writes": "write", "vendor_dag": "dag"}
NAMES = {"registry_sweep": ("query_ms", "sweep_s"),
         "table_writes": ("fresh_ms", "cycle_s"),
         "vendor_dag": ("dag_ms", "tenants_s")}
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 175
CHILDREN = []


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_children(signum, _frame):
    """Kill and reap every child, then leave at once. Reaps with
    os.waitpid: the interrupted main thread may hold the Popen's own
    wait lock."""
    for p in CHILDREN:
        try:
            p.kill()
            os.waitpid(p.pid, 0)
        except (OSError, ChildProcessError):
            pass
    print(f"[perfbench] error: stopped by signal {signum}", file=sys.stderr, flush=True)
    os._exit(6)


def net_ms(o):
    """An op's latency net of hypervisor steal: the wall time scaled by
    the share of the guest's busy CPU time the host did not take away.
    Equal to the wall time on an uncontended host."""
    return o["ms"] * (1.0 - o["steal"])


def groups(ops, kind=None, value=net_ms):
    """Successful timed ops of one kind (any kind if None):
    "kind:name" -> [values]."""
    out = {}
    for o in ops:
        if o["timed"] and o["ok"] and kind in (None, o["kind"]):
            out.setdefault(f"{o['kind']}:{o['name']}", []).append(value(o))
    return out


def mixed_quantile(by_type, mix, q):
    """Quantile of the pass's op mix: each op type weighs its share of a
    pass, spread evenly over its samples, so a partial last pass does not
    tilt the mix. Linear between the weighted midpoints."""
    pts = sorted((x, mix[t] / len(xs)) for t, xs in by_type.items() for x in xs)
    total = sum(w for _, w in pts)
    mids, cum = [], 0.0
    for _, w in pts:
        mids.append((cum + w / 2) / total)
        cum += w
    if q <= mids[0]:
        return pts[0][0]
    for k in range(1, len(pts)):
        if mids[k] >= q:
            f = (q - mids[k - 1]) / (mids[k] - mids[k - 1])
            return pts[k - 1][0] + f * (pts[k][0] - pts[k - 1][0])
    return pts[-1][0]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return ""


def generate(run_dir, workload, seed):
    """Generate the inputs; returns (info, seconds). The benchmark's own
    work, so reported beside setup_s but not in it."""
    sf, vendors, batches = INPUTS[workload]
    t0 = time.perf_counter()
    info = gen.generate(os.path.join(run_dir, "data"), sf, vendors, seed, batches)
    return info, time.perf_counter() - t0


def run_jvm(cmd, log_path, deadline):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        CHILDREN.append(p)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness JVM overran the run deadline and was stopped", 4)
        CHILDREN.remove(p)
    return p.returncode, out


def selfcheck(run_dir):
    """DuckDB oracle compare of the registry dumps (scripts/selfcheck.py,
    read-only). Returns [(check, ok, detail)]."""
    dump = os.path.join(run_dir, "work", "dump")
    corpus = os.path.join(run_dir, "data", "corpus")
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"), corpus, dump],
                       capture_output=True, text=True, timeout=120)
    out = []
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "NEAR"):
            out.append((f"oracle:{rest.split(':')[0].split(' ')[0]}", word == "PASS", line))
    if r.returncode not in (0, 1) or (r.returncode == 1 and all(ok for _, ok, _ in out)):
        out.append(("oracle:selfcheck", False, (r.stderr or r.stdout)[-500:]))
    return out


def fail_op(o, workload, msg):
    o["ok"] = False
    o["err"] = msg
    print(f"[fail] {workload} op {o['kind']} {o['name']} {msg}")


def landing_checks(res, info):
    """Each landing batch's gate must quarantine exactly the rows the
    generator broke in it."""
    for o in res["ops"]:
        if o["kind"] != "ingest" or not o["ok"]:
            continue
        batch = o["out"]["batch"]
        want = sum(info["landing"][batch].values())
        got = o["out"]["quarantined"]
        if got != want:
            fail_op(o, "table_writes", f"{batch}: quarantined {got} rows (injected {want})")


def vendor_checks(res, info):
    """Each DAG must quarantine exactly the injected defect rows of its
    tenant and reach R² > 0.8 (the floor VendorPipelineSpec holds)."""
    for o in res["ops"]:
        if o["kind"] != "dag" or not o["ok"]:
            continue
        v = info["vendors"][o["name"]]
        want = sum(sum(v[s]["defects"].values()) for s in ("train", "test"))
        got = int(o["out"].get("quarantined", -1))
        r2 = o["out"].get("r2")
        if got != want or r2 is None or not r2 > 0.8:
            fail_op(o, "vendor_dag", f"quarantined {got} rows (injected {want}), r2 {r2}")


def geomean(by_type, mix):
    """Geometric mean of the op types' median latencies, each type
    weighted by its share of a pass (types without a sample left out)."""
    ts = [t for t in mix if t in by_type]
    return math.exp(sum(mix[t] * math.log(statistics.median(by_type[t])) for t in ts)
                    / sum(mix[t] for t in ts))


def pass_seconds(by_type, mix):
    """One pass of the op mix from the per-type medians (every timed
    sample, a partial last pass included). Types with no successful
    sample are stood in for by the mean of the others, in proportion to
    their weight."""
    ts = [t for t in mix if t in by_type]
    s = sum(mix[t] * statistics.median(by_type[t]) for t in ts) / 1000.0
    return s * sum(mix.values()) / sum(mix[t] for t in ts)


def measure(res, info, workload, setup_s):
    """Returns (end-to-end metrics of BENCHMARK.json, [metric] lines),
    the latter as name -> (value, unit, samples)."""
    ops, mix = res["ops"], res["mix"]
    timed = [o for o in ops if o["timed"]]
    main = MAIN_OP[workload]
    lat = groups(ops, main)
    n = sum(len(xs) for xs in lat.values())
    if n == 0:
        fail(f"no successful {main} op in the timed region", 3)
    every = groups(ops)
    pass_s = pass_seconds(every, mix)
    # the per-op geomean of median latencies over the whole op mix: every
    # op type counts by its share of a pass, none dominates by size (the
    # median of a mix lands on whichever single op sits in the middle)
    geo = geomean(every, mix)
    geo_wall = geomean(groups(ops, None, lambda o: o["ms"]), mix)
    wmix = {t: k for t, k in mix.items() if t.startswith(main + ":")}
    p50, p90 = mixed_quantile(lat, wmix, 0.5), mixed_quantile(lat, wmix, 0.9)
    steal = statistics.mean(o["steal"] for o in timed)
    n_all = sum(len(xs) for xs in every.values())
    e2e = {"setup_s": (setup_s, "s"), "op_ms_geomean": (geo, "ms"), "pass_s": (pass_s, "s"),
           "retained_heap_mb": (res["retained_heap_mb"], "MB")}
    op, whole = NAMES[workload]
    lines = {f"{op}_p50": (p50, "ms", n), f"{op}_p90": (p90, "ms", n),
             f"{op}_geomean": (geomean(lat, wmix), "ms", n),
             "op_ms_geomean": (geo, "ms", n_all), "op_ms_geomean_wall": (geo_wall, "ms", n_all),
             "steal_share": (steal, "ratio", len(timed)),
             whole: (pass_s, "s", n_all), "setup_s": (setup_s, "s", 1),
             "retained_heap_mb": (res["retained_heap_mb"], "MB", 1),
             "peak_rss_mb": (res["peak_rss_mb"], "MB", 1)}
    if workload == "vendor_dag":
        rows = {v: d["train"]["rows"] + d["test"]["rows"] for v, d in info["vendors"].items()}
        done = sum(rows[o["name"]] for o in timed if o["kind"] == "dag" and o["ok"])
        lines["dag_rows_per_s"] = (done / res["timed_s"], "rows/s", n)
    if workload == "table_writes":
        commit = groups(ops, "write", lambda o: o["out"]["commit_ms"] * (1.0 - o["steal"]))
        reads = groups(ops, "read")
        rmix = {t: k for t, k in mix.items() if t.startswith("read:")}
        lines.update({
            "commit_ms_p50": (mixed_quantile(commit, wmix, 0.5), "ms", n),
            "commit_ms_p90": (mixed_quantile(commit, wmix, 0.9), "ms", n),
            "read_ms_p50": (mixed_quantile(reads, rmix, 0.5), "ms",
                            sum(len(x) for x in reads.values())),
            "space_amp": (res["extra"]["space_amp"], "ratio", 1)})
    return e2e, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in this checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build.build(build_dir, CHILDREN)
    deadline = time.time() + DEADLINE_S

    host = {"nproc": os.cpu_count(), "loadavg_before_run": loadavg()}
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    info, gen_s = generate(run_dir, a.workload, a.seed)
    result = os.path.join(run_dir, "result.json")
    trace_file = os.path.join(run_dir, "trace.json")
    cmd = ["java", *JAVA_OPENS, "-XX:-UsePerfData", "-Xmx3g", "-Xss4m",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", os.path.join(run_dir, "data"),
           "--work", os.path.join(run_dir, "work"),
           "--keys", os.path.join(HERE, "registry_keys.txt"), "--out", result]
    if a.trace:
        cmd += ["--trace-out", trace_file]
    code, out = run_jvm(cmd, os.path.join(run_dir, "jvm.log"), deadline)
    for line in out.splitlines():
        if line.startswith("[fail]"):
            print(line.replace("[fail]", f"[fail] {a.workload}", 1))
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with code {code}", 5)
    with open(result) as f:
        res = json.load(f)

    if a.workload == "registry_sweep":
        for name, ok, detail in selfcheck(run_dir):
            res["checks"].append({"name": name, "ok": ok, "detail": detail})
            if not ok:
                print(f"[fail] {a.workload} check {name}: {detail}")
    if a.workload == "table_writes":
        landing_checks(res, info)
    if a.workload == "vendor_dag":
        vendor_checks(res, info)
        res["extra"]["rows_quarantined"] = sum(
            int(o["out"].get("quarantined", 0)) for o in res["ops"] if o["kind"] == "dag" and o["timed"])

    setup_s = (res["session_s"] + res["setup_s"] + res["warmup_s"]) * (1.0 - res["setup_steal"])
    e2e, lines = measure(res, info, a.workload, setup_s)
    attempted = len(res["ops"]) + len(res["checks"])
    failed = sum(not o["ok"] for o in res["ops"]) + sum(not c["ok"] for c in res["checks"])
    lines["failed_ratio"] = (failed / attempted, "ratio", attempted)
    host.update(res["host"])
    print(f"[host] {json.dumps(host, sort_keys=True)}")
    print(f"[inputs] {a.workload} seed={a.seed} files={info['files']} bytes={info['bytes']} "
          f"corpus_rows={info['corpus_rows']} tenant_rows="
          f"{ {v: d['train']['rows'] + d['test']['rows'] for v, d in info['vendors'].items()} }")
    print(f"[setup] gen_s={gen_s:.3f} (not in setup_s) session_s={res['session_s']:.3f} "
          f"jvm_setup_s={res['setup_s']:.3f} warmup_s={res['warmup_s']:.3f} "
          f"setup_steal={res['setup_steal']:.3f} "
          f"timed_s={res['timed_s']:.3f} passes_s={res['passes_s']}")
    for name, (v, unit, n) in lines.items():
        print(f"[metric] {a.workload} {name} = {v:.6g} {unit} (n={n})")

    summary_dir = os.path.join(build_dir, "results")
    os.makedirs(summary_dir, exist_ok=True)
    mine = {k: v for k, (v, _) in e2e.items()}
    with open(os.path.join(summary_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(dict(mine, ops=res["ops"], mix=res["mix"]), f)
    if a.trace:
        with open(trace_file) as f:
            layers = spans.layer_metrics(json.load(f), res["extra"])
        units = spans.per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        base = os.path.join(summary_dir, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)
            for k in ("op_ms_geomean", "pass_s"):
                print(f"[overhead] {a.workload} {k}: traced {mine[k]:.6g} - untraced "
                      f"{plain[k]:.6g} = {mine[k] - plain[k]:+.6g} (same seed)")
        else:
            print(f"[overhead] {a.workload}: no untraced run with seed {a.seed} in this checkout")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
