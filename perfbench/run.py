"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
``--scale``) into ``.perfbench_work/`` under the current directory, which
is removed at exit. Load is a closed loop with one client: operations run
back to back for ``--seconds``, each on a fresh logical plan, after the
set-up (session start, input generation, one untimed promotion pass),
whose wall time is ``setup_s``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
untraced measurement, then restarts the session with the Spark event log
on and replays both layer ladders (``ladder.py``) to report the per-layer
metrics. Every metric is printed as ``metric <name> = <value> <unit>``;
the last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "1g"
END_TO_END_UNITS = {
    "wall_s": "s",
    "input_rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
MIN_FIELD_ACCURACY = 0.95


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["kg_build", "kg_resume", "curate"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input size relative to the default (2500 keys; 1000 base docs, 2 copies)",
    )
    return p.parse_args(argv)


# ---------------------------------------------------------------- processes


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        out[int(d)] = (int(stat[stat.rindex(")") + 2:].split()[1]), comm)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, leaving out a JVM's child that is still
    a copy of the JVM: the JVM spawns a short-lived helper for each shell
    command it runs (Hadoop's local file system runs ``chmod`` this way),
    and until that helper execs, it shares the JVM's memory and would count
    it twice."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, stack = [], [pid]
    while stack:
        parent = stack.pop()
        jvm = table.get(parent, (0, ""))[1] == "java"
        for p in kids.get(parent, []):
            if jvm and _exe(p) == _exe(parent):
                continue
            out.append(p)
            stack.append(p)
    return out


def tree_rss(pid: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, resident bytes) for ``pid`` and its tree."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        out[p] = (stat[stat.index("(") + 1:stat.rindex(")")], rss)
    return out


class RssSampler:
    """Samples the resident memory of this process tree (driver JVM and
    Python workers included) on a background thread; keeps the peak."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.peak_tree: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            tree = tree_rss(os.getpid())
            total = sum(rss for _, rss in tree.values())
            if total > self.peak:
                self.peak, self.peak_tree = total, tree
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- session


class Sessions:
    """Starts and stops Spark sessions in this process; ``close`` also ends
    the JVM and waits for every process this benchmark started."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, event_log: str | None = None):
        from calendar_event_entity_extraction_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file:{event_log}",
                    "spark.eventLog.compress": "false",
                }
            )
        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)


# ---------------------------------------------------------------- measurement


def run_workload(args, sessions: Sessions, work: str) -> dict:
    from workloads import PINNED_SEED, WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, args.scale, os.path.join(work, "inputs"))
    problems: list[str] = []

    t0 = time.perf_counter()
    spark = sessions.start()
    expected = wl.setup(spark)
    setup_s = time.perf_counter() - t0

    if args.seed == PINNED_SEED and args.scale == 1.0 and expected != wl.pinned:
        problems.append(f"digest {expected} != pinned {wl.pinned}")

    samples, attempted, failed = [], 0, 0
    with RssSampler() as rss:
        t_start = time.perf_counter()
        while True:
            wl.prepare()
            attempted += 1
            try:
                t0 = time.perf_counter()
                wl.op(spark)
                samples.append(time.perf_counter() - t0)
                ok = wl.digest(spark) == expected
            except Exception as e:  # a raising operation counts as failed
                print(f"# operation {attempted} raised: {e!r}", file=sys.stderr)
                ok = False
            failed += not ok
            if time.perf_counter() - t_start >= args.seconds:
                break

    quality = wl.quality(spark)
    accuracy = quality.get("field_accuracy", (1.0, ""))[0]
    if accuracy < MIN_FIELD_ACCURACY:
        problems.append(f"field_accuracy {accuracy} < {MIN_FIELD_ACCURACY}")

    if not samples:
        raise RuntimeError("no operation completed")
    print(f"# digest {expected}", file=sys.stderr)
    print(f"# samples {[round(x, 3) for x in samples]}", file=sys.stderr)
    print(
        "# peak rss MB by process "
        f"{[(p, c, rss >> 20) for p, (c, rss) in rss.peak_tree.items()]}",
        file=sys.stderr,
    )
    wall = statistics.median(samples)
    metrics = {
        "wall_s": wall,
        "input_rows_per_s": wl.input_rows / wall,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 2**20,
    }
    info = {
        "wall_s.samples": (len(samples), "count"),
        "failed_ratio": (failed / attempted, "ratio"),
        "input_rows": (wl.input_rows, "rows"),
        **quality,
    }
    return {
        "workload": wl,
        "metrics": metrics,
        "info": info,
        "problems": problems,
        "attempted": attempted,
        "failed": failed,
    }


def run_trace(args, sessions: Sessions, work: str, res: dict) -> dict:
    """Per-layer metrics from a traced session (event log on)."""
    import ladder as tr
    from workloads import WORKLOADS

    wl = res["workload"]
    log_dir = os.path.join(work, "eventlog")
    sessions.stop()
    spark = sessions.start(event_log=log_dir)
    inputs = wl.work
    kg = WORKLOADS["kg_build"](args.seed, args.scale, inputs)
    cur = WORKLOADS["curate"](args.seed, args.scale, inputs)
    resume = WORKLOADS["kg_resume"](args.seed, args.scale, inputs)
    t = tr.Tracer(spark)
    # inputs the untraced phase did not build, then one promotion pass of
    # each whole operation in this session
    t.probe("promote", lambda: kg.setup(spark) if wl.name == "curate" else kg.promote(spark))
    t.probe("promote", lambda: cur.setup(spark) if wl.name != "curate" else cur.promote(spark))

    kg.prepare()
    t.probe("kg_build", lambda: kg.op(spark))
    kg_whole = kg.digest(spark)
    resume.prepare()
    t.probe("kg_resume", lambda: resume.op(spark))
    t.probe("curate", lambda: cur.op(spark))
    kg_counts = tr.kg_ladder(t, kg.transcripts, os.path.join(work, "ladder_kg"))
    kg_counts["whole_digest"] = kg_whole
    cur_counts = tr.curate_ladder(t, cur.docs)
    cur_counts["whole_digest"] = cur.last
    sessions.stop()

    stats = tr.parse_event_log(log_dir)
    return tr.layer_metrics(
        t.walls, stats, kg_counts, cur_counts, wl.name, res["metrics"]["wall_s"]
    )


def per_layer_units() -> dict:
    """Names and units of the per-layer metrics listed in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    import calendar_event_entity_extraction_spark  # noqa: F401 — fail fast

    work = os.path.join(
        os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package from the checkout and keep their
    # temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher included: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    sessions = Sessions(work)
    try:
        res = run_workload(args, sessions, work)
        layers = run_trace(args, sessions, work, res) if args.trace else {}
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it

    for name, value in res["metrics"].items():
        print(f"metric {name} = {value:.6g} {END_TO_END_UNITS[name]}")
    for name, (value, unit) in res["info"].items():
        print(f"metric {name} = {value:.6g} {unit}")
    if layers:
        from ladder import moves

        for name, (value, unit) in layers.items():
            print(f"metric {name} = {value:.6g} {unit}  # moves {moves(name)}")
    for p in res["problems"]:
        print(f"# incorrect: {p}")

    if args.trace:
        listed = per_layer_units()
        metrics = {n: {"value": layers[n][0], "unit": u} for n, u in listed.items()}
    else:
        metrics = {
            n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in res["metrics"].items()
        }
    correct = not res["problems"] and res["failed"] == 0
    if args.trace:
        correct = correct and all(
            layers[f"ladder.{k}_matches_pipeline"][0] == 1 for k in ("kg", "curate")
        )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
