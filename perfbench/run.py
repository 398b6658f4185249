"""The repository benchmark.

    python3 perfbench/run.py --workload <serve_mix|batch_suite>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (see build.py), runs one workload in one JVM
with a fresh, empty `java.io.tmpdir` that is deleted afterwards, checks the
outputs, and prints as its last line one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer ones with `--trace 1`). The line before it
carries the run's context: host, versions, source hash, sample counts and
the first failures. A traced run's spans are kept under
`.bench_build/traces/`.

`--record-fingerprints` rewrites `perfbench/fingerprints.json` from a
batch_suite run; use it only on a commit whose outputs are known good.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve_mix", "batch_suite")
# A recall below this means ANN serving broke, not that it got approximate.
RECALL_FLOOR = 0.5
TIME_LIMIT_S = 170
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def java(classes, jars, main_args, run_dir, deadline):
    """Runs `graftbench.Main main_args` in one JVM with a fresh, empty
    `java.io.tmpdir` under `run_dir`, killing it at `deadline`."""
    tmp = tempfile.mkdtemp(prefix="jvm-", dir=run_dir)
    # no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + build.jdk_add_opens()
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main"] + main_args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    log_path = tmp + ".log"
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("run: the JVM did not finish in time")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        raise SystemExit(f"run: the JVM exited with {p.returncode}")


def inputs(classes, jars, workload, run_dir, deadline):
    """The fixed inputs of `workload`: generated once per version of the
    benchmark's sources, in a JVM of their own, and only read afterwards."""
    root = os.path.join(build.BUILD_DIR, "inputs-" + build.inputs_tag())
    for old in os.listdir(build.BUILD_DIR):
        if old.startswith("inputs-") and old != os.path.basename(root):
            shutil.rmtree(os.path.join(build.BUILD_DIR, old), ignore_errors=True)
    out = os.path.join(root, workload)
    if not os.path.exists(os.path.join(out, ".complete")):
        tmp = f"{out}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            java(classes, jars, ["--generate", workload, "--inputs", tmp], run_dir, deadline)
            open(os.path.join(tmp, ".complete"), "w").close()
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def check_batch(raw):
    """Compares each query's fingerprint with the recorded one; a mismatch
    fails the op. Queries listed as unstable are checked by row count."""
    expected = json.load(open(FINGERPRINTS))["queries"]
    for o in raw["ops"]:
        if o["kind"] != "query" or not o["ok"]:
            continue
        rows, fp = o["detail"].split(":", 1)
        want = expected.get(o["name"])
        if want is None:
            o["ok"], o["error"] = False, "no recorded fingerprint"
        elif int(rows) != want["rows"]:
            o["ok"], o["error"] = False, f"{rows} rows, recorded {want['rows']}"
        elif want["fingerprint"] is not None and fp != want["fingerprint"]:
            o["ok"], o["error"] = False, "fingerprint differs from the recorded one"


def record_fingerprints(raw):
    old = json.load(open(FINGERPRINTS)) if os.path.exists(FINGERPRINTS) else {}
    unstable = old.get("unstable", {})
    queries = {}
    for o in sorted(raw["ops"], key=lambda o: o["name"]):
        if o["kind"] == "query" and o["ok"]:
            rows, fp = o["detail"].split(":", 1)
            queries[o["name"]] = {"rows": int(rows),
                                  "fingerprint": None if o["name"] in unstable else fp}
    with open(FINGERPRINTS, "w") as f:
        json.dump({"unstable": unstable, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    args = ap.parse_args()
    started = time.time()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, jars, tag = build.build()
    runs = os.path.join(build.BUILD_DIR, "runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = inputs(classes, jars, args.workload, run_dir, started + 900)
        # a first build and input generation may take their own time
        deadline = max(started + TIME_LIMIT_S, time.time() + 150)
        raw_path = os.path.join(run_dir, "raw.json")
        t0 = time.time()
        java(classes, jars, ["--workload", args.workload, "--seed", str(args.seed),
                             "--seconds", str(args.seconds), "--trace", str(args.trace),
                             "--inputs", data, "--out", raw_path], run_dir, deadline)
        raw = json.load(open(raw_path))
        raw["timeline"].append(["jvm_exit", time.time() - t0])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    notes = []
    if args.workload == "batch_suite":
        if args.record_fingerprints:
            record_fingerprints(raw)
        else:
            check_batch(raw)
    measured = [o for o in raw["ops"] if o["kind"] in ("req", "query", "maint")]
    recall = raw["layers"].get("SearchEngine.recall_at_k")
    if args.workload == "serve_mix" and recall is not None and recall < RECALL_FLOOR:
        notes.append(f"recall@k {recall:.3f} below {RECALL_FLOOR}")
    failed = [o for o in raw["ops"] if not o["ok"]]
    e2e, (tail_p, tail_ms) = stats.end_to_end(raw, measured)
    if args.trace:
        metrics = {k: (v, stats.layer_unit(k))
                   for k, v in stats.per_layer(raw, measured, raw["context"]["nproc"]).items()}
        # the traced run's own end-to-end figures: set against an untraced
        # run's, they give the tracing overhead
        metrics.update({"traced." + k: (v, stats.E2E_UNITS[k]) for k, v in e2e.items()})
        os.makedirs(os.path.join(build.BUILD_DIR, "traces"), exist_ok=True)
        with open(os.path.join(build.BUILD_DIR, "traces",
                               f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(raw, f)
    else:
        metrics = {k: (v, stats.E2E_UNITS[k]) for k, v in e2e.items()}

    context = dict(raw["context"], workload=args.workload, seed=args.seed,
                   source_hash=tag, samples=len(measured),
                   latency_tail={"percentile": tail_p, "ms": stats.finite(tail_ms)},
                   setup_samples=len(raw["setup"]), timeline_s=raw["timeline"],
                   error_rate=len(failed) / max(1, len(raw["ops"])),
                   failures=[f"{o['name']}: {o['error']}" for o in failed[:5]], notes=notes)
    context["wall_s"] = time.time() - started
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not failed and not notes and bool(measured),
        "attempted": len(raw["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": stats.finite(v), "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))


if __name__ == "__main__":
    main()
