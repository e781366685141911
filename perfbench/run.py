#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the harness with sbt (`perfbench/build.sbt`); later runs reuse
the build while the sources are unchanged. Each run reads its tables
from `perfbench/fixtures/` (the seed sets only the order of the closed
loop's entries), starts a fresh JVM with `local[nproc]`, checks the
outputs, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics untraced, the
per-layer metrics traced. Everything it writes goes under `.bench_build/`;
traced runs keep their spans and per-entry layer figures under
`.bench_build/traces/`. See perfbench/README.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
FIXTURES = os.path.join(HERE, "fixtures")
# The stream's pass_s is the busy time per this many seconds of input.
STREAM_PASS_S = 10
TRADE_LATENCY_LIMIT_MS = 5000
JVM_HEAP = "3g"
RUN_DEADLINE_S = 170
# Earlier C2 compilation, so a run reaches steady state within its
# warm-up passes instead of drifting through the timed ones.
JIT_FLAGS = ["-XX:Tier4InvocationThreshold=1500", "-XX:Tier4CompileThreshold=3000"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Files whose content decides the build."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not beside perfbench/")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()[:16]
    stamp = os.path.join(BUILD, f"classpath-{digest}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1], digest


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return None


# --- one run ---------------------------------------------------------------

def fixtures_digest():
    """Checks the fixture tables against fixtures/SHA256SUMS; returns its digest."""
    with open(os.path.join(FIXTURES, "SHA256SUMS"), "rb") as fh:
        sums = fh.read()
    for line in sums.decode().splitlines():
        want, name = line.split()
        with open(os.path.join(FIXTURES, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                fail(f"fixture {name} does not match fixtures/SHA256SUMS")
    return hashlib.sha256(sums).hexdigest()[:16]


def run_jvm(args, classpath, run_dir, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS] + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *JIT_FLAGS, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", FIXTURES, "--out", run_dir]
    spawn_ms = time.time() * 1000
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past the deadline; see {run_dir}/jvm.log")
    raw_path = os.path.join(run_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"the JVM exited with {rc}:\n{tail}")
    with open(raw_path) as fh:
        return json.load(fh), spawn_ms


def oracle_check(sf_dir, verify_dir):
    """Entry name -> True/False from tools/local_verify.py's comparison."""
    out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "local_verify.py"),
                          sf_dir, verify_dir], capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in out.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|ROWS) ([A-Za-z0-9_]+)", line)
        if m:
            verdict[m.group(2)] = m.group(1) != "FAIL"
    return verdict, out.stdout


def analyse_closed_loop(raw, run_dir):
    corr = raw["correctness"]
    verdict, report = oracle_check(os.path.join(FIXTURES, "sf0.01"), os.path.join(run_dir, "verify"))
    wrong = sorted(n for n in corr["entries"] if not verdict.get(n, False))
    ops = raw["ops"]
    good = [o for o in ops if o["ok"]]
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    pass_s = [sum(o["ms"] for o in p) / 1000 for p in passes.values()
              if len(p) == len(corr["entries"])]
    lat = [o["ms"] for o in good]
    e2e = {"latency_p50_ms": stats.quantile(lat, 50) if lat else None,
           "latency_p90_ms": stats.quantile(lat, 90) if lat else None,
           "pass_s": statistics.median(pass_s) if pass_s else None}
    attempted = len(corr["entries"]) + len(ops)
    failed = len(wrong) + sum(1 for o in ops if not o["ok"])
    per_entry = {}
    if any(o["traced"] for o in ops):
        # Each entry runs once traced and once untraced; one check per entry.
        attempted += len(corr["entries"])
        for name in corr["entries"]:
            seen = sorted(o["traced"] for o in ops if o["name"] == name)
            if seen != [False, True]:
                failed += 1
                print(f"perfbench: {name} ran traced/untraced as {seen}, not once each",
                      file=sys.stderr)
    for o in ops:
        if o["traced"] and "layers" in o:
            e = dict(o["layers"])
            e["spark.driver_gap_ms"] = stats.driver_gap(o["start_ms"], o["end_ms"],
                                                         e.pop("stage_intervals"))
            e["queries.construct_ms"] = o["construct_ms"]
            e["spark.action_ms"] = o["action_ms"]
            per_entry[o["name"]] = e
    layers = {}
    if per_entry:
        names = next(iter(per_entry.values())).keys()
        layers = {k: sum(e[k] for e in per_entry.values()) / len(per_entry) for k in names}
        by_name = {}
        for o in ops:
            by_name.setdefault(o["name"], {})["traced" if o["traced"] else "plain"] = o["ms"]
        diffs = [v["traced"] - v["plain"] for v in by_name.values() if len(v) == 2]
        if diffs:
            layers["trace.overhead_ms"] = statistics.median(diffs)
    detail = {"oracle": {n: verdict.get(n, False) for n in corr["entries"]},
              "oracle_report": report, "errors": corr["errors"],
              "warm_ms": corr["warm_ms"], "check_ms": corr["check_ms"],
              "ops": [{k: o[k] for k in ("name", "pass", "ms", "construct_ms", "action_ms",
                                         "ok", "error", "traced")} for o in ops],
              "samples": len(lat), "passes": len(pass_s),
              "highest_supported_percentile": stats.highest_supported(len(lat))}
    return e2e, attempted, failed, layers, per_entry, detail


def iso_ms(ts):
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def analyse_stream(raw):
    s = raw["stream"]
    progress = {p["id"]: p for p in s["progress"]}
    batches = sorted(s["batches"], key=lambda b: b["id"])
    attempted = failed = 0
    lat, weights, waits = [], [], []
    prev_hi = -1
    measured = []
    bad_batches = []
    for b in batches:
        f, t = progress.get(b["id"], {}).get("frames"), b["trades"]
        if f is None or f["lo"] is None:
            continue
        exp = stats.expected_trades(f["lo"], f["hi"])
        ok = (f["lo"] == prev_hi + 1 and b["n_ssi_eq_verified"] and t is not None
              and all(t[k] == exp[k] for k in exp))
        prev_hi = f["hi"]
        attempted += exp["n"]
        if not ok:
            failed += exp["n"]
            bad_batches.append(b["id"])
            continue
        if not s["warm_end_ms"] <= b["start_ms"] < s["end_ms"]:
            continue
        measured.append(b)
        start = iso_ms(progress[b["id"]]["timestamp"])
        for latency, k in stats.trade_latencies(f["lo"], f["hi"], f["ts_lo"], f["ts_hi"], b["commit_ms"]):
            lat.append(latency)
            weights.append(k)
            waits.append((start - (b["commit_ms"] - latency)) * k)
            if latency > TRADE_LATENCY_LIMIT_MS:
                failed += k
    attempted += 1  # the batch-twin comparison, and the query ending cleanly
    failed += 0 if s["twin_equal"] and s["failure"] is None else 1
    window_ms = s["end_ms"] - s["warm_end_ms"]
    durations = [progress[b["id"]]["duration_ms"] for b in measured]
    busy = sum(d.get("triggerExecution", 0) for d in durations) / window_ms
    # Busy seconds per STREAM_PASS_S of input, from the median batch's
    # time per frame: unlike the summed batch time over the window, it
    # does not jump with whether 10 or 11 batches start in the window.
    ms_per_frame = [progress[b["id"]]["duration_ms"]["triggerExecution"] / progress[b["id"]]["rows"]
                    for b in measured]
    n_trades = sum(weights)
    e2e = {"latency_p50_ms": stats.percentile(lat, 50, weights) if lat else None,
           "latency_p90_ms": stats.percentile(lat, 90, weights) if lat else None,
           "pass_s": (statistics.median(ms_per_frame) * s["rate"] * STREAM_PASS_S / 1000
                      if measured else None)}

    def mean_dur(key):
        return sum(d.get(key, 0) for d in durations) / len(durations) if durations else 0.0
    layers = {"streaming.planning_ms": mean_dur("queryPlanning"),
              "streaming.latest_offset_ms": mean_dur("latestOffset"),
              "streaming.get_batch_ms": mean_dur("getBatch"),
              "streaming.wal_commit_ms": mean_dur("walCommit"),
              "streaming.commit_offsets_ms": mean_dur("commitOffsets"),
              "streaming.add_batch_ms": mean_dur("addBatch"),
              "streaming.source_wait_ms": sum(waits) / n_trades if n_trades else 0.0,
              "streaming.batches": float(len(measured))}
    ops = {f"batch#{b['id']}" for b in measured}
    spans = {}
    for sp in raw["spans"]:
        if sp["op"] in ops:
            spans.setdefault(sp["name"], []).append(sp["end_ms"] - sp["start_ms"])
    for name in ("ops.construct", "spark.action"):
        layers[name + "_ms"] = statistics.mean(spans[name]) if name in spans else 0.0
    gaps = []
    for root in (sp for sp in raw["spans"] if sp["op"] in ops and sp["name"] == "streaming.add_batch"):
        stages = [(sp["start_ms"], sp["end_ms"]) for sp in raw["spans"]
                  if sp["parent"] == root["id"] and sp["name"] == "spark.stage"]
        gaps.append(stats.driver_gap(root["start_ms"], root["end_ms"], stages))
    layers["spark.driver_gap_ms"] = statistics.mean(gaps) if gaps else 0.0
    traced = [b for b in measured if b["traced"] and "layers" in b]
    if traced:
        for name in traced[0]["layers"]:
            layers[name] = statistics.mean(b["layers"][name] for b in traced)
        on = [progress[b["id"]]["duration_ms"]["triggerExecution"] for b in measured if b["traced"]]
        off = [progress[b["id"]]["duration_ms"]["triggerExecution"] for b in measured if not b["traced"]]
        if on and off:
            layers["trace.overhead_ms"] = statistics.median(on) - statistics.median(off)
        else:
            attempted += 1
            failed += 1
            print("perfbench: no traced and untraced batch pair to measure tracing overhead",
                  file=sys.stderr)
    detail = {"rate": s["rate"], "partitions": s["partitions"], "batches_total": len(batches),
              "pass_s_per_input_s": STREAM_PASS_S, "busy_frac": busy,
              "batches_measured": len(measured), "bad_batches": bad_batches,
              "trades_measured": n_trades, "twin_equal": s["twin_equal"],
              "twin_frames": s["twin_frames"], "failure": s["failure"],
              "window_ms": window_ms, "latency_limit_ms": TRADE_LATENCY_LIMIT_MS,
              "highest_supported_percentile": stats.highest_supported(n_trades),
              "batch_durations_ms": [d.get("triggerExecution") for d in durations]}
    return e2e, attempted, failed, layers, {}, detail


def hot_path_layers(raw):
    """Ablation parts and kernel costs from a traced run, plus their checks."""
    out, ok = {}, True
    a = raw.get("ablation")
    if a:
        parts = a["part_us_per_trade"]
        out.update({"ops.parse_us": parts["ops.parse"], "identity.sign_us": parts["identity.sign"],
                    "model.avro_us": parts["model.avro"], "identity.verify_us": parts["identity.verify"],
                    "ops.q1_us": parts["ops.q1"], "ops.hot_path_us": a["full_us_per_trade"]})
        full, summed = a["full_us_per_trade"], sum(parts.values())
        gap = abs(a["parts_to_full"] - 1)
        out["ops.ablation_gap_pct"] = 100 * gap
        ok = a["hash_equal"] and gap <= 0.10
        if not ok:
            # The prefixes are the harness's frozen copy of the readout's body.
            print(f"perfbench: ablation check failed: HotPath.perTradeReadout takes {full:.3f} us/trade, "
                  f"the frozen prefix copy in HotPathStream.prefixes sums to {summed:.3f} us/trade "
                  f"(the median over rounds of copy / full is off by {100 * gap:.1f}%, "
                  f"hash_equal={a['hash_equal']}). If HotPath changed, "
                  f"update the copy to match it.", file=sys.stderr)
    k = raw.get("kernels")
    if k:
        out.update({"identity.jwt_sign_ns": k["jwt_sign_ns"], "identity.jwt_verify_ns": k["jwt_verify_ns"],
                    "model.avro_encode_ns": k["avro_encode_ns"], "model.avro_decode_ns": k["avro_decode_ns"]})
    return out, ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load_start = loadavg()
    classpath, digest = build()
    deadline = time.time() + RUN_DEADLINE_S

    fixtures = fixtures_digest()
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    run_dir = os.path.join(BUILD, "runs", stamp)
    os.makedirs(run_dir)
    try:
        raw, spawn_ms = run_jvm(args, classpath, run_dir, deadline)
        if args.workload == "hot_path_stream":
            e2e, attempted, failed, layers, per_entry, detail = analyse_stream(raw)
        else:
            e2e, attempted, failed, layers, per_entry, detail = analyse_closed_loop(raw, run_dir)
        e2e["setup_s"] = (raw["ready_ms"] - spawn_ms) / 1000
        e2e["heap_peak_mb"] = raw["heap_peak_mb"]
        provenance = dict(raw["provenance"], git_sha=git_sha(), source_digest=digest,
                          loadavg_start=load_start, fixtures_digest=fixtures,
                          jvm_heap=JVM_HEAP, run_dir=os.path.relpath(run_dir, ROOT))
        print(json.dumps({"provenance": provenance}, sort_keys=True))
        if args.trace:
            hp, hp_ok = hot_path_layers(raw)
            layers.update(hp)
            attempted += 1
            failed += 0 if hp_ok else 1
            trace_dir = os.path.join(BUILD, "traces", stamp)
            os.makedirs(trace_dir)
            with open(os.path.join(trace_dir, "spans.jsonl"), "w") as fh:
                for s in raw["spans"]:
                    fh.write(json.dumps(s) + "\n")
            own = stats.self_times(raw["spans"])
            by_name = {}
            for s in raw["spans"]:
                t = by_name.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
                t["count"] += 1
                t["total_ms"] += s["end_ms"] - s["start_ms"]
                t["self_ms"] += own[s["id"]]
            layers["trace.spans"] = float(len(raw["spans"]))
            with open(os.path.join(trace_dir, "trace.json"), "w") as fh:
                json.dump({"provenance": provenance, "layers": layers, "per_entry": per_entry,
                           "span_self_time": by_name, "detail": detail,
                           "ablation": raw.get("ablation"), "kernels": raw.get("kernels"),
                           "end_to_end_traced": e2e}, fh, indent=1, sort_keys=True)
            metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                       for name, unit in PER_LAYER.items()}
        else:
            missing = [k for k in END_TO_END if e2e.get(k) is None]
            if missing:
                fail(f"no samples for {missing}")
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        with open(os.path.join(BUILD, "results.jsonl"), "a") as fh:
            fh.write(json.dumps({"stamp": stamp, "metrics": metrics, "attempted": attempted,
                                 "failed": failed, "detail": detail,
                                 "provenance": provenance}) + "\n")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)



if __name__ == "__main__":
    main()
