"""Run one benchmark workload at one seed and print one JSON result line.

    python3 perfbench/run.py --workload replay_wide --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Each run starts its own Spark session
(``local[<cores>]``), generates its inputs from ``--seed``, times passes of
the workload from input parquet to committed results until ``--seconds``
have elapsed (at least one pass), checks every pass against an
independent oracle, and prints ``{"correct", "attempted", "failed",
"metrics"}`` as the last line of standard output.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` first runs the untraced benchmark
for the same seed in a child process, then one traced pass with Spark's
event log on, and reports the per-layer metrics.  Everything the run
writes stays under ``.perfbench_work/`` in the current directory.  See
``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3
#: fixed driver heap (-Xms = -Xmx): without it G1's heap resizing makes the
#: JVM's resident size, and with it peak_rss_mb, vary by 25% between runs
HEAP = "1g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark process: its work directory, redirected Spark log,
    Spark session and human-readable report stream."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.work = os.path.join(
            root, ".perfbench_work", f"{args.workload}-seed{args.seed}-trace{args.trace}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub))
        self.log_path = os.path.join(self.work, "spark.log")
        self.cores = len(os.sched_getaffinity(0))

    def redirect_output(self) -> None:
        """Send fds 1 and 2 (inherited by the JVM and the Python workers)
        to the Spark log; keep private copies for the report and the
        result line."""
        self.report = os.fdopen(os.dup(2), "w", buffering=1)
        self.result = os.fdopen(os.dup(1), "w")
        fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        os.close(fd)

    def say(self, msg: str) -> None:
        print(msg, file=self.report)

    def start_spark(self):
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        # no hsperfdata files in the system temp dir, from either JVM
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        os.environ["SPARK_DRIVER_MEMORY"] = HEAP
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        conf = {
            "spark.default.parallelism": str(self.cores),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{HEAP}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                }
            )
        from online_centrality_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        return time.time() - t0

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def untraced_child(args) -> dict:
    """The untraced benchmark for the same workload and seed, run in a
    child process so that both walls come from a fresh JVM."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True, timeout=170)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [
        p for p in ("online_centrality_spark/__init__.py", "tests/oracle/reference_oracle.py")
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    sys.dont_write_bytecode = True
    from tracing import RssSampler, Tracer, fold_event_log, warn_kinds
    from workloads import WORKLOADS
    import layers

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    untraced = untraced_child(args) if args.trace else None

    run = Run(args, root)
    run.redirect_output()
    wl = WORKLOADS[args.workload](args.seed, run.work)
    session_s = run.start_spark()
    sc = run.spark.sparkContext
    gen = []
    for _ in range(SETUP_REPEATS):
        t0 = time.time()
        card = wl.generate()
        gen.append(time.time() - t0)
    card.update(wl.prepare())
    run.say(f"[{args.workload} seed={args.seed}] input card: {json.dumps(card)}")

    walls, peaks, attempted, failed = [], [], 0, 0
    t_loop = time.time()
    while True:
        tracer = Tracer(sc if args.trace else None)
        ok = False
        with RssSampler(sc._gateway.proc.pid) as rss:
            t0 = time.time()
            try:
                wl.run_pass(run.spark, tracer)
                ok = True
            except Exception:
                run.say(traceback.format_exc())
            wall = time.time() - t0
        a, f, notes = wl.CHECKS, wl.CHECKS, ["pass raised"]
        if ok:
            try:
                a, f, notes = wl.check()
            except Exception:
                run.say(traceback.format_exc())
                notes = ["check raised"]
        attempted, failed = attempted + a, failed + f
        walls.append(wall)
        peaks.append(rss.peak_kb / 1024.0)
        spans = ", ".join(
            f"{s['layer']} {s['end'] - s['start']:.2f}s" for s in tracer.spans
            if s["parent"] is None
        )
        run.say(f"pass {len(walls)}: {wall:.2f}s ({spans}); {f}/{a} checks failed {notes}")
        if args.trace or time.time() - t_loop >= args.seconds:
            break

    wall_s = statistics.median(walls)
    run.stop_spark()
    warns = warn_kinds(run.log_path)
    if args.trace:
        logs = [os.path.join(run.work, "eventlog", f)
                for f in os.listdir(os.path.join(run.work, "eventlog"))]
        record = layers.per_layer(
            wall_s=wall_s,
            untraced_wall_s=untraced["metrics"]["wall_s"]["value"],
            session_s=session_s,
            spans=tracer.spans,
            folded=fold_event_log(logs[0], tracer.spans),
            walk_metrics=wl.walk_metrics if ok else [],
            counters=wl.layer_counters() if ok else {},
            warns=warns,
            cores=run.cores,
        )
        attempted += 1
        if not record["self_sum_ok"]:
            failed += 1
            run.say("layer self times do not add up to the traced wall within 10%")
        with open(os.path.join(run.work, "trace.json"), "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        run.say(layers.format_table(record))
        metrics = layers.json_metrics(record)
    else:
        run.say(f"WARN lines by kind: {json.dumps(dict(warns.most_common()))}")
        metrics = {
            "wall_s": {"value": wall_s, "unit": "s"},
            "edges_per_s": {"value": card["edges"] / wall_s, "unit": "edges/s"},
            "setup_s": {"value": session_s + statistics.median(gen), "unit": "s"},
            "peak_rss_mb": {"value": max(peaks), "unit": "MB"},
        }
        run.say(f"error_rate {failed / attempted:.4f} ({failed}/{attempted}); "
                + ", ".join(f"{k} {v['value']:.4g} {v['unit']}" for k, v in metrics.items()))
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    run.say(f"run took {time.time() - T_START:.1f}s")
    print(json.dumps(line), file=run.result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
