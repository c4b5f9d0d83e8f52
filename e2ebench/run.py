"""End-to-end benchmark of the engine: one workload, one seed, one run.

    python3 e2ebench/run.py --workload tpch_sql --seed 1 --seconds 20 --trace 0

Run from the root of the repository. The launcher generates the
workload's inputs from the seed, computes every DuckDB oracle result and
closes DuckDB, then starts the engine in a worker process whose
environment it pins: 3 task slots, a fixed 1 GB driver heap, one BLAS/OpenMP
thread, and every temporary and Spark local directory inside a scratch
directory of the run. It kills the worker's whole process group at the
end and removes the scratch directory. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The lines before it starting with ``# `` are the
run's report. README.md beside this file defines every metric.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything a run writes lives under these two directories of ROOT
RUN_ROOT = os.path.join(ROOT, ".bench_run")
OUT_ROOT = os.path.join(ROOT, ".bench_out")
#: the whole run, set-up included, must end within this many seconds
RUN_LIMIT_S = 170.0
HEAP = "1g"
PINNED_ENV = {
    "SPARK_GRAFT_CPUS": "3",
    "SPARK_DRIVER_MEMORY": HEAP,
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--warmup", type=int, default=None,
                   help="override the warm-up pass count (pass-time curves)")
    p.add_argument("--passes", type=int, default=None,
                   help="override the timed pass count (pass-time curves)")
    return p.parse_args(argv)


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM, Python workers) so they can
    be reaped here after the process group is killed."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def live_members(pgid: int) -> list[int]:
    """Processes of group ``pgid`` that have not ended (zombies have)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(entry))
    return out


def kill_group(pgid: int, deadline_s: float = 20.0) -> None:
    """SIGKILL every process of the group, then reap until none is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not live_members(pgid):
            return
        time.sleep(0.05)
    print(f"processes of group {pgid} still alive: {live_members(pgid)}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    started = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "keenwa_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print(f"no engine checkout at {ROOT}: keenwa_spark/ and tools/ are required",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import datagen
    import workloads

    try:
        wl = workloads.get(args.workload)
    except KeyError as e:
        print(e, file=sys.stderr)
        return 2

    run_dir = os.path.join(RUN_ROOT, f"{wl.name}-s{args.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    tmp_dir = os.path.join(run_dir, "tmp")
    local_dir = os.path.join(run_dir, "spark-local")
    for d in (data_dir, tmp_dir, local_dir, OUT_ROOT):
        os.makedirs(d, exist_ok=True)
    try:
        datagen.write(data_dir, args.seed, workloads.SF)
        oracle = workloads.oracle_frames(wl, data_dir, tmp_dir)
        with open(os.path.join(run_dir, "oracle.pkl"), "wb") as f:
            pickle.dump(oracle, f)
        del oracle
        overridden = args.warmup is not None or args.passes is not None
        passes = wl.timed_passes(args.seconds) if args.passes is None else args.passes
        warmup = wl.warmup if args.warmup is None else args.warmup
        trace_out = os.path.join(OUT_ROOT, f"trace-{wl.name}-s{args.seed}.json")
        env = dict(os.environ, **PINNED_ENV)
        env.update(
            TMPDIR=tmp_dir,
            SPARK_LOCAL_DIRS=local_dir,
            PYSPARK_PYTHON=sys.executable,
            JDK_JAVA_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
            # the driver heap is committed and touched up front, so peak
            # RSS does not depend on when the collector chose to grow it
            PYSPARK_SUBMIT_ARGS=(
                f"--driver-java-options '-Xms{HEAP} -XX:+AlwaysPreTouch' pyspark-shell"
            ),
        )
        become_subreaper()
        with open(os.path.join(run_dir, "worker.out"), "w") as out, open(
            os.path.join(run_dir, "worker.err"), "w"
        ) as err:
            t0 = time.monotonic()
            with open(os.path.join(run_dir, "config.json"), "w") as f:
                json.dump(
                    {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                     "passes": passes, "warmup": warmup, "t0": t0,
                     "trace_out": trace_out},
                    f,
                )
            worker = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), run_dir],
                cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=err, start_new_session=True,
            )
            limit = None if overridden else max(1.0, RUN_LIMIT_S - (time.monotonic() - started))
            try:
                code = worker.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                kill_group(worker.pid)
        with open(os.path.join(run_dir, "worker.out")) as f:
            for line in f:
                if line.startswith("# "):
                    sys.stdout.write(line)
        if code != 0:
            with open(os.path.join(run_dir, "worker.err")) as f:
                tail = f.readlines()[-40:]
            print(f"worker {'timed out' if code is None else f'exited with {code}'}; "
                  f"its stderr ends:\n{''.join(tail)}", file=sys.stderr)
            return 1
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
