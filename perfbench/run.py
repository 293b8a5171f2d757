"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the engine with the
benchmark (`build.py`), generates the workload's inputs from the seed,
runs the JVM side (`src/PerfBench.scala`) in one `local[4]` session,
checks the outputs, and prints, as the last line of standard output, one
JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The line before it is a record of the run that
is not gated on (machine speed, generator lateness, backlog, ...).
See README.md.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Replay log size per measured second, fixed (not adapted to the machine)
# so every commit drains the same log; 24 products with skewed activity
# and 400-level books.
REPLAY_FRAMES_PER_S = 1250
REPLAY_PRODUCTS = ["P%02d-USD" % i for i in range(24)]
# Frames admitted per micro-batch: a 16-second log drains in 10 batches,
# large enough that the per-frame work (source buffer, decoder, book
# updates) is a visible share of a batch beside its fixed cost.
FRAMES_PER_TRIGGER = 2000
# One skipped trade id in the middle of every other batch; the history
# server serves exactly the skipped ones. Gaps never share a batch, so the
# backfill's pacing between requests never waits.
GAP_EVERY = 2 * FRAMES_PER_TRIGGER
# Budget of one run after the build (the build has its own, in build.py).
RUN_TIMEOUT_S = 170


def generate(workload, seed, seconds, work):
    """Write the workload's inputs into `work`; return a digest of them."""
    if workload == "ingest_replay":
        gen.gdax_log(os.path.join(work, "frames.log"),
                     os.path.join(work, "history.jsonl"), seed,
                     REPLAY_FRAMES_PER_S * seconds, REPLAY_PRODUCTS,
                     depth=400, spread=6000, gap_every=GAP_EVERY)
        # warm-up log: the same shape from another seed, three batches
        gen.gdax_log(os.path.join(work, "warm.log"), None, seed + 7919,
                     3 * FRAMES_PER_TRIGGER, REPLAY_PRODUCTS, depth=400,
                     spread=6000)
    else:
        gen.tables(os.path.join(work, "tables"), seed)
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(work)):
        for fn in sorted(files):
            with open(os.path.join(dirpath, fn), "rb") as f:
                h.update(fn.encode())
                h.update(f.read())
    return h.hexdigest()


def oracle(root, work):
    """Check the batch results with the repository's DuckDB oracle gate
    (`tools/check.py`): each query's SQL twin over the same tables, compared
    with the Spark result. Returns (wrong results, messages)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_gate", os.path.join(root, "tools", "check.py"))
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = gate.main(os.path.join(work, "tables"),
                       os.path.join(work, "results"))
    fails = [l for l in out.getvalue().splitlines() if l.startswith("FAIL")]
    if rc != 0 and not fails:
        fails = ["oracle gate failed:\n" + out.getvalue()[-2000:]]
    return len(fails), fails


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail("BENCHMARK.json not found in %s: %s" % (root, e))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail("unknown workload %r" % a.workload)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                                  ".bench_build"))
    try:
        classpath = build.build(root, build_dir)
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        fail("build failed: %s" % e)
    started = time.time()

    work = os.path.join(build_dir, "work", "%s-%d-%d" % (
        a.workload, a.seed, os.getpid()))
    try:
        # Set-up: generate the inputs three times (byte-identical, or the
        # generator is not seeded) and keep the median time.
        gen_s, digests = [], set()
        for _ in range(3):
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            t0 = time.time()
            digests.add(generate(a.workload, a.seed, a.seconds, work))
            gen_s.append(time.time() - t0)
        if len(digests) != 1:
            fail("input generation is not deterministic")
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d))

        launch = time.time()
        # -Xmx only, no -Xms: the heap is committed as the run's demand
        # grows, not up front, so peak_rss_mb moves with it.
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        cmd = (["java", "-Xmx1g", "-Xss4m", "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + [x for p in JDK_OPENS for x in ("--add-opens",
                                                  p + "=ALL-UNNAMED")]
               + ["-cp", classpath,
                  "graft.perfbench.PerfBench",
                  "--workload", a.workload, "--work", work,
                  "--trace", str(a.trace),
                  "--frames-per-trigger", str(FRAMES_PER_TRIGGER)])
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                jvm = subprocess.run(
                    cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                    timeout=max(30, RUN_TIMEOUT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                fail("JVM side timed out")
        if jvm.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail("JVM side failed (exit %d):\n%s" % (jvm.returncode, tail))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        attempted, failed = res["attempted"], res["failed"]
        problems = list(res["problems"])
        if a.workload == "batch_suite":
            wrong, msgs = oracle(root, work)
            failed += wrong
            problems += msgs

        setup_s = (statistics.median(gen_s) + res["timed_start_ms"] / 1000.0
                   - launch - res["calib_s"])
        e2e = dict(res["e2e"], setup_s=setup_s)
        if a.trace:
            names = spec["per_layer"]
            values = dict(res["layers"])
            values.update({"traced." + k: v for k, v in e2e.items()})
            values["calib_s"] = res["calib_s"]
        else:
            names = spec["end_to_end"]
            values = e2e
        # a layer the workload does not run reads 0; every end-to-end
        # metric must have been measured
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0) if a.trace
                               else values[m["name"]], "unit": m["unit"]}
                   for m in names}
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            dst = os.path.join(traces, "%s-%d.spans.jsonl" % (a.workload, a.seed))
            shutil.copy(os.path.join(work, "spans.jsonl"), dst)
            res["record"]["spans_file"] = os.path.relpath(dst, root)
            res["record"]["self_times"] = res["self_times"]
        record = dict(res["record"], workload=a.workload, seed=a.seed,
                      setup_phases_s={
                          "generate": statistics.median(gen_s),
                          "jvm_start": res["main_start_ms"] / 1000.0 - launch,
                          "session": (res["session_ready_ms"]
                                      - res["main_start_ms"]) / 1000.0,
                          "calibrate": res["calib_s"],
                          "warm_up": (res["timed_start_ms"]
                                      - res["session_ready_ms"]) / 1000.0
                          - res["calib_s"]},
                      calib_s=res["calib_s"], input_sha256=digests.pop(),
                      problems=problems)
        print("record " + json.dumps(record, sort_keys=True))
        print(json.dumps({"correct": failed == 0 and not problems,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
