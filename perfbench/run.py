#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload fwd_retry --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. The first run compiles graft and the
benchmark (perfbench/build.py); batch_heavy also generates its tables
(perfbench/datagen.py). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The exit code is 0 only when every correctness check passed.
Everything a run writes stays under the build directory and bench-data/.
"""
import argparse
import decimal
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # nothing written beside the sources
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402

JVM_TIMEOUT_S = 170
# per-layer metric prefixes of the modules each workload bypasses
BYPASSED = {
    "fwd_retry": ("operators.", "plans."),
    "batch_heavy": ("sources.", "streaming.", "model.", "gen."),
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def plain(x):
    """A number as a plain decimal string: never exponent notation."""
    if isinstance(x, bool):
        raise ValueError("boolean is not a metric value")
    if isinstance(x, int):
        return str(x)
    d = x if isinstance(x, decimal.Decimal) else decimal.Decimal(repr(float(x)))
    if not d.is_finite():
        raise ValueError(f"non-finite value {x}")
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s in ("-0", "") else s


def result_line(correct, attempted, failed, metrics):
    body = ",".join(
        f'{json.dumps(name)}:{{"value":{plain(v)},"unit":{json.dumps(u)}}}'
        for name, (v, u) in metrics.items())
    return (f'{{"correct":{"true" if correct else "false"},"attempted":{int(attempted)},'
            f'"failed":{int(failed)},"metrics":{{{body}}}}}')


def self_test(line, names):
    """Parse the real output line with a strict JSON parser and check its
    shape: exact keys, whole counts, plain-decimal numbers."""
    def no_constants(c):
        raise ValueError(f"non-standard JSON constant {c}")
    obj = json.loads(line, parse_constant=no_constants, parse_float=decimal.Decimal)
    assert isinstance(obj, dict) and list(obj) == ["correct", "attempted", "failed", "metrics"]
    assert isinstance(obj["correct"], bool)
    assert isinstance(obj["attempted"], int) and obj["attempted"] >= 1
    assert isinstance(obj["failed"], int) and obj["failed"] >= 0
    assert list(obj["metrics"]) == names, (list(obj["metrics"]), names)
    for name, m in obj["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, decimal.Decimal)), name
    assert not re.search(r'"value":-?[0-9.]*[eE]', line), "exponent notation in output"


def check_fingerprints(got):
    """Keys whose row count + order-insensitive hash differ from the
    fingerprints recorded once from a run that matched the DuckDB oracle."""
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        want = json.load(fh)
    return sorted(k for k, v in got.items() if want.get(k) != v)


def jvm_command(cp, work, data, args):
    heap = "3g" if args.workload == "batch_heavy" else "2g"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap size, so heap resizing does not differ between runs
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work] + opens +
            ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
             str(args.trace), work, data, os.path.join(work, "out.json")])


def run_jvm(cmd, work):
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as fh:
        # Spark's local files stay inside the run directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -9
            log(f"JVM run exceeded {JVM_TIMEOUT_S}s and was stopped")
        finally:
            # also on SIGTERM/Ctrl-C: the JVM never outlives this process
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(logf, errors="replace") as fh:
        text = fh.read()
    # the self-time table and any stack trace go to stderr for the reader
    for ln in text.splitlines():
        if ln.startswith("[perfbench]") or ln.startswith("module ") or re.match(
                r"^(sources|streaming|model|operators|plans|spark)\s+\d", ln):
            print(ln, file=sys.stderr)
    if code != 0:
        print(text[-6000:], file=sys.stderr)
    return code


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload}; known: {', '.join(workloads)}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    names = [m["name"] for m in wanted]

    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    out_dir = build.build_dir()
    data = datagen.ensure(log) if args.workload == "batch_heavy" else ""
    work = os.path.join(out_dir, "run", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    code = run_jvm(jvm_command(cp, work, data, args), work)
    out_file = os.path.join(work, "out.json")
    if code != 0 or not os.path.exists(out_file):
        log(f"JVM exited {code}")
        return 1
    with open(out_file) as fh:
        rec = json.load(fh, parse_float=decimal.Decimal)

    failed = int(rec["failed"])
    attempted = int(rec["attempted"])
    checks = dict(rec["checks"])
    if args.workload == "batch_heavy":
        bad = check_fingerprints(rec["fingerprints"])
        checks["fingerprints"] = not bad
        failed += len(bad)
        for k in bad:
            log(f"fingerprint mismatch: {k}")
    correct = failed == 0 and all(checks.values())
    if attempted > 0:
        log(f"fail_share = {plain(decimal.Decimal(failed) / attempted)} ({failed}/{attempted})")
    log("checks: " + ", ".join(f"{k}={'ok' if v else 'FAILED'}" for k, v in checks.items()))

    source = rec["layers"] if args.trace else rec["metrics"]
    if args.trace:
        # a layer a workload bypasses reports 0 (the prediction for it)
        bypassed = BYPASSED[args.workload]
        for n in names:
            if n not in source and n.startswith(bypassed):
                source[n] = {"value": 0}
    missing = [n for n in names if n not in source]
    if missing:
        log(f"metrics missing from the run: {missing}")
        return 1
    units = {m["name"]: m["unit"] for m in wanted}
    metrics = {n: (source[n]["value"], units[n]) for n in names}

    diag = {k: rec["layers"][k]["value"] for k in
            ("host.steal_share", "jvm.gc_ms", "jvm.code_cache_mb", "gen.late_max_ms")
            if k in rec["layers"]}
    log("diagnostics: " + ", ".join(f"{k}={plain(v)}" for k, v in diag.items()))

    # tracing overhead: the traced end-to-end numbers beside the last
    # untraced run of the same workload
    keep = os.path.join(out_dir, "records")
    os.makedirs(keep, exist_ok=True)
    rec["run"] = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "unix_time": time.time()}
    if args.trace:
        base_file = os.path.join(keep, f"last-{args.workload}-t0.json")
        if os.path.exists(base_file):
            with open(base_file) as fh:
                base = json.load(fh, parse_float=decimal.Decimal)["metrics"]
            overhead = {}
            for n, m in rec["metrics"].items():
                if n in base and base[n]["value"]:
                    overhead[n] = m["value"] / base[n]["value"] - 1
                    log(f"tracing overhead {n}: traced {plain(m['value'])} "
                        f"untraced {plain(base[n]['value'])} ({plain(round(overhead[n] * 100, 1))}%)")
            rec["tracing_overhead"] = overhead
        trace_file = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
        if os.path.exists(trace_file):
            log(f"spans written to {os.path.relpath(trace_file, ROOT)}")
    with open(os.path.join(keep, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(rec, fh, default=float)
    if not args.trace:
        shutil.copy(os.path.join(keep, f"{args.workload}-{args.seed}-t0.json"),
                    os.path.join(keep, f"last-{args.workload}-t0.json"))

    line = result_line(correct, max(1, attempted), failed, metrics)
    try:
        self_test(line, names)
    except (AssertionError, ValueError) as e:
        log(f"output self-test failed: {e!r}")
        return 3
    print(line, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
