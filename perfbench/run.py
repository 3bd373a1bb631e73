"""Benchmark of the MitM pipeline and the graph queries on local[nproc].

    python3 perfbench/run.py --workload mitm_ngs --seed 42 --seconds 10 --trace 0

One process per run: start a session, prepare the inputs several times
(``setup_s``), run one cold operation (``first_run_s``), then warm
operations until ``--seconds`` of measured time and at least ``MIN_WARM``
of them (``run_s`` and ``run_cpu_s``, their medians).
Every operation's output is checked outside the timed regions. The last
stdout line is the result JSON; the line before it is a detail record
(host, sample counts, per-op times, checks). ``--trace 1`` instead
interleaves untraced and traced operations and reports per-layer numbers
(see README.md). The exit code is 0 only if every operation succeeded
and every check passed.
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
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: input preparations per run; setup_s reports their median
SETUP_REPS = 3
#: warm operations per untraced run at least; run_s and run_cpu_s are
#: their medians
MIN_WARM = 2
#: stop starting operations once the next would likely end past this much
#: process wall, even below MIN_WARM: under heavy host load a run keeps
#: to about a minute and a half, so a full benchmark keeps to its budget
WALL_LIMIT_S = 75.0
#: per-layer Spark breakdown reported in the traced run
SPARK_LAYERS = ["sources", "walks", "walk_simrank", "matching", "stats",
                "graphalg", "simrank", "pipeline"]
#: per-round walk_simrank metrics reported (0 beyond the run's rounds)
MAX_ROUNDS = 2


def host_info() -> dict:
    with open("/proc/meminfo", encoding="utf-8") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    with open("/proc/loadavg", encoding="utf-8") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat", encoding="utf-8") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg": load, "cpu_jiffies": sum(cpu), "steal_jiffies": cpu[7]}


def source_revision() -> str | None:
    if not (ROOT / ".git").exists():  # a plain checkout: never look above it
        return None
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _process_tree() -> list[tuple[int, list[str]]]:
    """(pid, /proc/<pid>/stat fields after the command name) of this
    process and every live descendant: the Spark JVM, the Python worker
    daemon and its workers."""
    kids: dict[int, list[tuple[int, list[str]]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # the process ended while we looked
            kids.setdefault(int(fields[1]), []).append((int(d), fields))
    with open("/proc/self/stat", encoding="utf-8") as f:
        todo = [(os.getpid(), f.read().rsplit(")", 1)[1].split())]
    tree = []
    while todo:
        pid, fields = todo.pop()
        tree.append((pid, fields))
        todo.extend(kids.get(pid, []))
    return tree


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process tree,
    including descendants that have ended and been waited for. Unlike
    wall time, it leaves out the time a stalled (stolen) CPU holds up
    the other tasks of a stage."""
    ticks = sum(int(x) for _, fields in _process_tree() for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of each process of the tree, in MB.
    Called before the session stops, while the reused workers are still
    alive."""
    peaks: dict[str, float] = {}
    for pid, _ in _process_tree():
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = f"{fields['Name'].strip()}:{pid}"
        peaks[name] = int(fields.get("VmHWM", "0 kB").split()[0]) / 1024
    return peaks


def start_session(work: Path, trace: bool, host: dict):
    """Session sized to the host, with every scratch path inside ``work``."""
    heap_mb = min(8192, max(1024, host["mem_total_mb"] // 8))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    tempfile.tempdir = str(tmp)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_SCRATCH": str(work / "sideload"),
        # a fixed-size heap keeps G1's adaptive resizing out of RSS and GC time
        "SPARK_SUBMIT_OPTS": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the engine from the checkout root
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    (work / "sideload").mkdir()
    from big_data_graph_analysis_with_spark_spark import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "evlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "evlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{host['nproc']}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, heap_mb


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs")
    args = ap.parse_args(argv)
    t_proc = time.monotonic()

    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    host_start = host_info()
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=_work_root()))
    try:
        detail, metrics, ok, attempted, failed = _run(args, work, host_start, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host_end = host_info()
    busy = host_end["cpu_jiffies"] - host_start["cpu_jiffies"]
    detail.update(host_start=host_start, host_end=host_end,
                  steal_share=(host_end["steal_jiffies"] - host_start["steal_jiffies"]) / busy,
                  revision=source_revision(), wall_s=time.monotonic() - t_proc)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if ok and failed == 0 else 1


def _work_root() -> Path:
    p = ROOT / ".perfbench_work"
    p.mkdir(exist_ok=True)
    return p


def _run(args, work: Path, host: dict, t_proc: float):
    import workloads
    import spans as tr

    t0 = time.perf_counter()
    spark, heap_mb = start_session(work, bool(args.trace), host)
    session_s = time.perf_counter() - t0
    tracer = tr.Tracer(spark) if args.trace else None
    no_span = lambda name, layer: nullcontext()  # noqa: E731
    span = tracer.span if tracer else no_span

    cls = workloads.WORKLOADS[args.workload]
    if cls is workloads.GraphQueries:
        duckdb_conf = {"memory_limit": f"{host['mem_total_mb'] // 8}MB",
                       "threads": host["nproc"], "temp_directory": str(work / "duckdb")}
        wl = cls(spark, args.seed, args.size, duckdb_conf)
    else:
        wl = cls(spark, args.seed, args.size)

    errors: list[str] = []
    prep_s, prep_counts, check_s = [], [], []
    for rep in range(SETUP_REPS):
        rep_dir = work / f"input{rep}"
        rep_dir.mkdir()
        t = time.perf_counter()
        prep_counts.append(wl.prepare(str(rep_dir), span))
        prep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        errors += wl.check_inputs(prep_counts[-1])
        check_s.append(time.perf_counter() - t)
    setup_s = session_s + statistics.median(prep_s)

    op_s: list[float] = []        # wall of every attempted op in order: [cold, warm...]
    op_cpu: list[float] = []      # CPU seconds of the process tree per op
    op_traced: list[bool] = []
    traced_roots: list[int] = []  # span ids of traced ops
    failed = 0

    def traced_op():
        for w in wl.wraps():
            tracer.wrap(w.module, w.attr, w.layer, counters=w.counters)
        try:
            with tracer.span("op", "pipeline") as root:
                res = wl.op(tracer.span)
        finally:
            tracer.unwrap()
        traced_roots.append(root.id)
        return res

    def run_op(traced: bool) -> None:
        nonlocal failed
        c0, t0, dt, dc = cpu_s(), time.perf_counter(), None, None
        try:
            res = traced_op() if traced else wl.op(no_span)
            dt, dc = time.perf_counter() - t0, cpu_s() - c0
            t1 = time.perf_counter()
            op_errs = wl.check(res)
            check_s.append(time.perf_counter() - t1)
        except Exception:  # noqa: BLE001 - one failed op must not lose the run
            op_errs = [traceback.format_exc(limit=3)]
        op_s.append(dt if dt is not None else time.perf_counter() - t0)
        op_cpu.append(dc if dc is not None else cpu_s() - c0)
        op_traced.append(traced)
        if op_errs:
            failed += 1
            errors.extend(op_errs)

    def enough(measured: float) -> bool:
        # the traced run alternates untraced and traced warm ops and ends
        # on an untraced one, so every warm traced op has an untraced
        # neighbour on each side
        if op_traced[-1]:
            return False
        if len(op_s) >= (4 if args.trace else 1 + MIN_WARM) and measured >= args.seconds:
            return True
        late = time.monotonic() - t_proc + 1.5 * op_s[-1] > WALL_LIMIT_S
        return late and len(op_s) >= (4 if args.trace else 2)

    run_op(traced=bool(args.trace))
    measured = 0.0
    while not enough(measured) and failed < 3:
        run_op(traced=bool(args.trace) and len(op_s) % 2 == 0)
        measured += op_s[-1]
    rss = peak_rss_mb()
    stop_session(spark)

    ok = not errors
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "session_s": session_s, "prepare_s": prep_s,
        "op_s": op_s, "op_cpu_s": op_cpu, "op_traced": op_traced, "check_s": check_s,
        "warm_samples": len(op_s) - 1, "driver_heap_mb": heap_mb,
        "pinned_checked": wl.pinned_checked, "stats_sha256": wl.digest,
        "error_rate": failed / len(op_s), "peak_rss_mb": rss,
        "errors": errors[:20],
    }
    attempted = len(op_s)

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_run_s": (op_s[0], "s"),
            "run_s": (statistics.median(op_s[1:]), "s"),
            "run_cpu_s": (statistics.median(op_cpu[1:]), "s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
        }
        return detail, metrics, ok, attempted, failed

    if len(traced_roots) < 2:  # failed ops left no warm traced op
        return detail, {}, False, attempted, failed
    evlog = tr.reduce_event_log(str(work / "evlog"))
    metrics = layer_metrics(tracer, traced_roots, evlog, op_s, op_traced, prep_counts)
    return detail, metrics, ok, attempted, failed


def layer_metrics(tracer, roots, evlog, op_s, op_traced, prep_counts) -> dict:
    """Per-layer metrics: means over the warm traced ops (every traced op
    but the first), so the span self times add up to the op wall."""
    import spans as tr

    warm = roots[1:]
    spans = tracer.spans

    def per_root(root: int) -> dict:
        kids = [s for s in spans if s.parent == root]
        by = {}
        for s in kids:
            d = by.setdefault(s.name, {"s": 0.0, "walls": [], "counts": {}})
            d["s"] += s.end - s.start
            d["walls"].append(s.end - s.start)
            for c, v in s.counts.items():
                d["counts"][c] = d["counts"].get(c, 0) + v
        root_sp = spans[root]
        return {
            "by": by,
            "wall": root_sp.end - root_sp.start,
            "layers": tr.layer_totals(tracer, [root], evlog),
            "last_counts": {s.name: s.counts for s in kids},
        }

    rs = [per_root(r) for r in warm]

    def mean(f) -> float:
        return statistics.fmean(f(r) for r in rs)

    def t(name: str) -> float:
        return mean(lambda r: r["by"].get(name, {}).get("s", 0.0))

    def c(name: str, key: str) -> float:
        return mean(lambda r: r["by"].get(name, {}).get("counts", {}).get(key, 0))

    m: dict[str, tuple[float, str]] = {}
    # setup preparations after the first (cold) one, like the warm ops
    src = [s for s in spans if s.layer == "sources"][1:]
    m["sources.load_s"] = (statistics.fmean(s.end - s.start for s in src), "s")
    m["sources.vertices"] = (float(prep_counts[-1]["vertices"]), "count")
    m["sources.edges"] = (float(prep_counts[-1]["edges"]), "count")

    first = per_root(roots[0])["by"].get("ensure_sideload", {}).get("s", 0.0)
    m["walks.sideload_first_s"] = (first, "s")
    m["walks.sideload_s"] = (t("ensure_sideload"), "s")
    m["walks.start_s"] = (t("sample_start_assignments_dist"), "s")
    m["walks.run_s"] = (t("run_walks"), "s")
    m["walks.visited_s"] = (t("walk_visited_sets"), "s")
    m["walks.steps"] = (c("run_walks", "rows"), "count")
    m["walks.walks"] = (c("walk_visited_sets", "rows"), "count")

    m["walk_simrank.init_s"] = (t("init_scores"), "s")
    m["walk_simrank.round_s"] = (t("walk_simrank_round"), "s")
    for i in range(MAX_ROUNDS):
        m[f"walk_simrank.round{i}_s"] = (mean(
            lambda r: (r["by"].get("walk_simrank_round", {}).get("walls", []) + [0.0] * MAX_ROUNDS)[i]
        ), "s")
    m["walk_simrank.pairs"] = (c("walk_simrank_round", "rows"), "count")

    m["matching.s"] = (t("best_match") + t("valuable_matches") + t("merge_matches"), "s")
    cand = c("best_match", "candidates")
    m["matching.candidates"] = (cand, "count")
    m["matching.matches"] = (mean(
        lambda r: r["last_counts"].get("merge_matches", {}).get("rows", 0)), "count")
    kept = c("valuable_matches", "rows")
    m["matching.useful_ratio"] = (kept / cand if cand else 0.0, "ratio")
    m["stats.s"] = (t("assemble_stats"), "s")
    m["sinks.s"] = (t("write_yaml_stats"), "s")

    import workloads

    for q in workloads.GRAPH_QUERIES:
        m[f"graphalg.{q}_s"] = (t(q), "s")

    m["trace.count_s"] = (mean(lambda r: r["layers"].get("trace", {}).get("self_s", 0.0)), "s")
    m["trace.uncovered_s"] = (mean(lambda r: r["layers"]["pipeline"]["self_s"]), "s")
    m["trace.op_wall_s"] = (mean(lambda r: r["wall"]), "s")
    # each warm traced op against the mean of the untraced ops on either
    # side, so the warm-up trend between consecutive ops cancels
    over = [op_s[k] - (op_s[k - 1] + op_s[k + 1]) / 2
            for k in range(1, len(op_s) - 1) if op_traced[k]]
    m["trace_overhead_s"] = (statistics.fmean(over) if over else 0.0, "s")

    units = dict(tr.SPARK_METRICS)
    src_totals = tr.layer_totals(tracer, [s.id for s in src], evlog).get("sources", {})
    for key, unit in units.items():
        m[f"spark.{key}"] = (mean(lambda r: sum(
            v[key] for lay, v in r["layers"].items() if lay != "trace")), unit)
        for lay in SPARK_LAYERS:
            if lay == "sources":
                val = src_totals.get(key, 0.0) / len(src)
            else:
                val = mean(lambda r: r["layers"].get(lay, {}).get(key, 0.0))
            m[f"spark.{lay}.{key}"] = (val, unit)
    return m


if __name__ == "__main__":
    sys.exit(main())
