#!/usr/bin/env python3
"""Benchmark of the engine's ELT, corpus and query paths.

Usage, from the checkout root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
  python3 perfbench/run.py --self-test

Workloads: tenant_fresh, tenant_incremental, corpus_fresh, query_mix (see
perfbench/README.md). The first run in a checkout compiles the engine and
the harness and records their class archive (perfbench/build.py). Each run
works in its own directory under the build dir, removed afterwards; the
JVM's log goes to <build dir>/logs. The last stdout line is the result
JSON: {"correct", "attempted", "failed", "metrics"}; the exit code is
non-zero when a unit failed or gave wrong output, or when the run could not
finish.

--self-test runs every workload once in smoke mode (no warm-up, one
iteration, traced and untraced), checks that every metric named in
BENCHMARK.json is printed with its unit, and checks that a planted wrong
expected digest makes `failed` non-zero and the exit code non-zero.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["tenant_fresh", "tenant_incremental", "corpus_fresh", "query_mix"]
JVM_TIMEOUT_S = 170


def run_jvm(args: argparse.Namespace) -> int:
    build.build()
    out = build.build_dir()
    work = out / "runs" / f"{args.workload or 'emit'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (out / "logs").mkdir(parents=True, exist_ok=True)
    log = out / "logs" / f"{work.name}-seed{args.seed}-trace{args.trace}.log"
    cmd = build.java_command(work)
    if args.emit_expected:
        cmd += ["--emit-expected", str(Path(args.emit_expected).resolve())]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.smoke:
        cmd.append("--smoke")
    if args.plant:
        cmd.append("--plant")
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                    stderr=err, text=True,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; "
                                 f"log: {log}\n")
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if args.emit_expected:
        print("\n".join(lines))
        return proc.returncode
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(f"perfbench: no result (exit {proc.returncode}); "
                         f"log: {log}\n")
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        return proc.returncode or 4
    print("\n".join(lines))
    return proc.returncode


def self_test() -> int:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    me = [sys.executable, str(Path(__file__).resolve())]
    problems = []

    def one(workload, trace, plant):
        cmd = me + ["--workload", workload, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--smoke"] + (["--plant"] if plant else [])
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        return r.returncode, json.loads(lines[-1]) if lines else None

    for w in WORKLOADS:
        for trace in (0, 1):
            rc, res = one(w, trace, plant=False)
            tag = f"{w} trace={trace}"
            if res is None:
                problems.append(f"{tag}: no result (exit {rc})")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace].items()) - set(got.items()))
                extra = sorted(set(got.items()) - set(want[trace].items()))
                problems.append(f"{tag}: metrics differ; missing {missing} extra {extra}")
            if rc != 0 or not res["correct"] or res["failed"] != 0:
                problems.append(f"{tag}: exit {rc}, failed {res['failed']}")
            print(f"self-test {tag}: exit {rc}, {res['attempted']} units, "
                  f"{res['failed']} failed", flush=True)
        rc, res = one(w, 0, plant=True)
        ok = res is not None and res["failed"] > 0 and not res["correct"] and rc != 0
        if not ok:
            problems.append(f"{w}: planted wrong digest not caught (exit {rc}, {res})")
        print(f"self-test {w} planted digest: exit {rc}, "
              f"failed {res and res['failed']}", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    print("self-test " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="no warm-up, one iteration (traced and untraced with --trace 1)")
    ap.add_argument("--plant", action="store_true",
                    help="plant one wrong expected digest (self-test)")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--emit-expected", metavar="PATH",
                    help="write the expected digests of query_mix and corpus_fresh")
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    if not args.workload and not args.emit_expected:
        ap.error("--workload is required")
    return run_jvm(args)


if __name__ == "__main__":
    sys.exit(main())
