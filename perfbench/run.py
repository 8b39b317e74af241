#!/usr/bin/env python3
"""graft benchmark: query boards and Nexmark rules, end to end and per layer.

Run from the root of a checkout of the repository:

  python3 perfbench/run.py --workload board --seed 1 --seconds 16 --trace 0

builds the program and the harness (first run only), generates the input
tables, runs one workload in one JVM and prints every metric with its unit;
the last line is one JSON object {correct, attempted, failed, metrics}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of BENCHMARK.json. Other modes:

  --runset OUT --seeds 1-10 [--workloads a,b] [--trace 0|1]
        run every workload once per seed and write the values, medians and
        quartile spreads to OUT
  --diff A B
        compare two result files (run sets or single records): per
        workload, name each metric whose median moved beyond its spread
  --smoke
        the benchmark's own test: tiny tables, short stream phases, and one
        corrupted expectation that must show up as a failed operation
  --pin
        fingerprint every query at the benchmark scale factors and rewrite
        pins.json (needs the duckdb module for the oracle results)

Everything the benchmark writes goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
PINS = os.path.join(HERE, "pins.json")
BUILD = os.path.join(ROOT, ".bench_build")
SF = "sf0.1"
SMOKE_SF = "sf0.001"
WORKLOADS = ["board", "rules_stream"]
# per-layer metrics of one workload's layers, which the other workload does
# not have; its --trace 1 line reports them as 0 and its text output as n/a
NOT_MEASURED = {
    "board": ("rules.", "sources.", "streaming.", "state.", "sinks.", "stream.",
              "spark.query_planning_ms", "spark.add_batch_ms", "scale.eps_max_1core"),
    "rules_stream": ("setup.warmup_s", "queries.", "self.", "spark.analyze_s",
                     "spark.optimize_s", "spark.plan_s", "scale.warm_s_1core"),
}
JVM_TIMEOUT_S = 170
# fixed heap and young generation: the peak resident set then depends on
# what the run retains, not on how far the collector let the heap grow
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def run_proc(cmd, timeout, env=None, cwd=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd or ROOT, env=env, stdout=stdout,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    return p.returncode, out, err


def source_stamp():
    """Digest of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = ["build.sbt", "perfbench/build.sbt", "perfbench/project/build.properties"]
    files += [os.path.join("project", f) for f in sorted(os.listdir(os.path.join(ROOT, "project")))
              if f.endswith((".sbt", ".scala", ".properties"))] if os.path.isdir(os.path.join(ROOT, "project")) else []
    for top in ("src/main", "perfbench/src"):
        for d, dirs, fs in sorted(os.walk(os.path.join(ROOT, top))):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(fs)]
    for f in files:
        path = os.path.join(ROOT, f)
        if os.path.isfile(path):
            h.update(f.encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt; return the classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a graft checkout: {need} missing under {ROOT}")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", f"-Djava.io.tmpdir={BUILD}/tmp", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt)")
    t0 = time.time()
    code, out, err = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"], 800, env=env, cwd=HERE,
        stdout=subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.startswith("/")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        die("build failed")
    log(f"built in {time.time() - t0:.0f}s")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java_cmd(cp, main, args):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + flags +
            HEAP + [f"-Djava.io.tmpdir={BUILD}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args)


def data(cp, sf):
    """Input tables at scale factor sf (e.g. 'sf0.1'), generated once."""
    d = os.path.join(BUILD, "data", sf)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log(f"generating {sf} tables")
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    code, _, err = run_proc(java_cmd(cp, "graft.GenData", [d, sf[2:]]), 600, env=env,
                            stdout=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(err[-4000:])
        die("table generation failed")
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def run_jvm(cp, workload, seed, seconds, trace, sf=SF, smoke=False, tag="run"):
    d = data(cp, sf)
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{int(trace)}")
    for fresh in (work, os.path.join(BUILD, "tmp")):
        shutil.rmtree(fresh, ignore_errors=True)
        os.makedirs(fresh)
    out = os.path.join(BUILD, "results", f"{tag}-{workload}-s{seed}-t{int(trace)}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", d, "--work", work, "--out", out,
            "--pins", PINS, "--smoke", "1" if smoke else "0",
            "--launch-ms", str(int(time.time() * 1000))]
    code, _, err = run_proc(java_cmd(cp, "perfbench.Main", args), JVM_TIMEOUT_S,
                            stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(err[-6000:])
        die(f"{workload} run failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def spec():
    if not os.path.exists(SPEC):
        die("BENCHMARK.json missing")
    with open(SPEC) as f:
        return json.load(f)


def summarize(rec, s, trace):
    """Print every metric, then the one-line result. A metric the record
    lacks is an error, unless it belongs to the other workload's layers."""
    names = s["per_layer"] if trace else s["end_to_end"]
    src = rec["layers"] if trace else rec["e2e"]
    w = rec["workload"]
    metrics, na = {}, []
    for m in names:
        if m["name"] in src:
            metrics[m["name"]] = {"value": src[m["name"]]["value"], "unit": m["unit"]}
        elif trace and m["name"].startswith(NOT_MEASURED[w]):
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            na.append(m["name"])
        else:
            die(f"{w} reported no {m['name']}")
    print(f"workload {w} seed {rec['seed']} trace {int(trace)}")
    for k, v in src.items():
        print(f"  {k:32s} {v['value']:14.4f} {v['unit']}")
    for k in na:
        print(f"  {k:32s} {'n/a':>14s}")
    print(f"  {'failed_ratio':32s} {rec['failed_ratio']:14.4f} ratio "
          f"({rec['failed']} of {rec['attempted']} operations)")
    for kd in rec["known_defects"]:
        print(f"  known defect {kd['op']}: {kd['why']}")
    for fl in rec["failures"][:20]:
        print(f"  FAILED {fl['op']}: {fl['why']}")
    info = rec.get("info", {})
    for k in ("latency_samples", "untraced_warm_s", "ladder", "ladder_1core"):
        if k in info:
            print(f"  {k}: {json.dumps(info[k])}")
    if trace and w == "board":
        self_s = sum(v["value"] for k, v in src.items() if k.startswith("self."))
        window = src["trace.window_s"]["value"]
        print(f"  self times sum to {self_s:.3f}s of the traced passes' {window:.3f}s "
              f"({window - self_s:.3f}s in no measured span)")
    if not trace:
        print_design_view(rec)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def print_design_view(rec):
    """The end-to-end set under the names the benchmark's design uses;
    n/a where a metric does not apply to the workload."""
    e, info, board = rec["e2e"], rec.get("info", {}), rec["workload"] == "board"
    rows = [("setup_s", e["setup_s"]["value"], "s"),
            ("cold_s", e["cold_s"]["value"] if board else None, "s"),
            ("warm_s", e["warm_s"]["value"] if board else None, "s"),
            ("query_p50_s", e["query_p50_s"]["value"] if board else None, "s"),
            ("rule_latency_p50_ms", None if board else e["latency_p50_ms"]["value"], "ms"),
            ("rule_latency_p95_ms", None if board else info.get("latency_p95_ms"), "ms"),
            ("rule_start_ms", None if board else info.get("rule_start_ms"), "ms"),
            ("peak_rss_mb", e["peak_rss_mb"]["value"], "MB"),
            ("failed_ratio", rec["failed_ratio"], "ratio")]
    print("  by design name (rule_eps_max: rules.eps_max of the traced run):")
    for name, v, unit in rows:
        print(f"    {name:28s} {'n/a' if v is None else f'{v:.4f}':>14s} {unit}")


def parse_seeds(text):
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def spread(values):
    med = statistics.median(values)
    if len(values) < 4 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def runset(args, s, cp):
    wls = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    out = {}
    for w in wls:
        recs, walls = [], []
        for seed in parse_seeds(args.seeds):
            t0 = time.time()
            r = run_jvm(cp, w, seed, s["run_seconds"], args.trace)
            recs.append(r)
            walls.append(round(time.time() - t0, 1))
            log(f"{w} seed {seed}: {walls[-1]}s wall, failed {r['failed']}")
        kind = "layers" if args.trace else "e2e"
        entry = {"seeds": parse_seeds(args.seeds), "wall_s": walls, "failed": sum(r["failed"] for r in recs),
                 "attempted": sum(r["attempted"] for r in recs), "metrics": {}}
        for m in recs[0][kind]:
            vals = [r[kind][m]["value"] for r in recs]
            med, sp = spread(vals)
            entry["metrics"][m] = {"unit": recs[0][kind][m]["unit"], "values": vals,
                                   "median": med, "spread": sp}
        out[w] = entry
        for m, e in entry["metrics"].items():
            print(f"{w:15s} {m:28s} median {e['median']:12.4f} {e['unit']:6s} spread {e['spread']:.4f}")
    with open(args.runset, "w") as f:
        json.dump(out, f, indent=1)


def load_result(path):
    """A run set, or a single record turned into a one-run set."""
    with open(path) as f:
        d = json.load(f)
    if "workload" in d:
        kind = "layers" if d.get("trace") else "e2e"
        return {d["workload"]: {"metrics": {m: {"unit": v["unit"], "values": [v["value"]],
                                                "median": v["value"], "spread": 0.0}
                                            for m, v in d[kind].items()}}}
    return d


def diff(a_path, b_path, s):
    a, b = load_result(a_path), load_result(b_path)
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    better = {m["name"]: m["better"] for m in s["end_to_end"] + s["per_layer"]}
    moved = 0
    for w in sorted(set(a) & set(b)):
        for m in sorted(set(a[w]["metrics"]) & set(b[w]["metrics"])):
            ea, eb = a[w]["metrics"][m], b[w]["metrics"][m]
            base = ea["median"]
            if base == 0:
                continue
            change = (eb["median"] - base) / abs(base)
            noise = max(ea["spread"], eb["spread"])
            if abs(change) > noise and abs(change) > 1e-9:
                moved += 1
                sign = -1 if better.get(m) == "lower" else 1
                verdict = "better" if change * sign > 0 else "worse"
                over = " BEYOND BOUND" if m in bounds and verdict == "worse" and abs(change) > bounds[m] else ""
                print(f"{w:15s} {m:28s} {base:12.4f} -> {eb['median']:12.4f} {change:+8.2%} "
                      f"(spread {noise:.2%}) {verdict}{over}")
    print(f"{moved} metrics moved beyond their run-to-run spread")


def smoke(cp):
    """Tiny tables, short phases, one corrupted pin: the check must fire."""
    ok = True
    for w in WORKLOADS:
        r = run_jvm(cp, w, 1, 6, False, sf=SMOKE_SF, smoke=True, tag="smoke")
        failed_ops = sorted(f["op"] for f in r["failures"])
        if w == "board":
            # one query's pin is corrupted; only cold runs are checked, so
            # exactly its cold run fails
            good = len(failed_ops) == 1 and failed_ops[0].endswith("/cold") and r["failed_ratio"] > 0
        else:
            good = r["failed"] == 0 and r["attempted"] > 0
        missing = [m["name"] for m in spec()["end_to_end"] if m["name"] not in r["e2e"]]
        good = good and not missing
        ok = ok and good
        print(f"smoke {w}: {'ok' if good else 'FAILED'} failed={r['failed']} of {r['attempted']} "
              f"failing={failed_ops} missing_metrics={missing}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--runset")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--diff", nargs=2)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    s = spec()
    if args.diff:
        return diff(args.diff[0], args.diff[1], s)
    cp = build()
    if args.smoke:
        return smoke(cp)
    if args.pin:
        import pin
        return pin.main(cp, lambda sf: data(cp, sf), java_cmd, run_proc, BUILD, PINS)
    if args.runset:
        return runset(args, s, cp)
    if args.workload not in [w["name"] for w in s["workloads"]]:
        die(f"unknown workload {args.workload}")
    rec = run_jvm(cp, args.workload, args.seed, args.seconds or s["run_seconds"], bool(args.trace))
    summarize(rec, s, bool(args.trace))


if __name__ == "__main__":
    main()
