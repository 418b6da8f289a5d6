"""kgflow benchmark: one workload per run.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # all workloads, tiny inputs

Run from the repository root.  Workloads: ``build`` (pipeline.run_pipeline
into a fresh warehouse, then resumes) and ``kg_queries`` (registry queries,
one cold pass in a fresh session, then warm passes).
See perfbench/README.md for the metrics and how they are normalized.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1).  The full run record (raw times, calibration seconds,
spans) is written under perfbench/_work/records/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("build", "kg_queries")
SETUPS = 3
SIZES = {
    # corpus docs, documents rows, queries
    "full": (6_000, 500, None),
    "smoke": (300, 200, 2),
}


def warm_up(spark, cores: int) -> None:
    """Fixed warm-up: one small shuffle job on every core.  It starts no
    Python worker, so a workload's first Python crossing in a fresh
    session pays for worker start-up, as it would for a user."""
    (spark.range(0, 30_000, 1, cores).selectExpr("id % 97 AS k")
     .groupBy("k").count().collect())


class Session:
    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None
        self.conf = {
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def start(self) -> dict:
        from deepref_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_up(self.spark, self.cores)
        return {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """End the JVM this process launched and wait until it has."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def generate(kind: str, *args) -> dict:
    out = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind,
                          *map(str, args)], check=True, capture_output=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def med(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    # the program must be importable from the checkout root; without it
    # the run fails here, before it generates or prints anything
    sys.path.insert(0, ROOT)
    t_imp = time.perf_counter()
    import deepref_spark.io.tables  # noqa: F401
    import deepref_spark.pipeline  # noqa: F401
    import deepref_spark.queries  # noqa: F401
    from deepref_spark.session import get_spark  # noqa: F401
    import_s = time.perf_counter() - t_imp
    pre_import_s = t_imp - T_START

    import calib
    import probe
    import workloads as W

    n_docs, doc_rows, n_queries = SIZES["smoke" if args.smoke else "full"]
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    shutil.rmtree(WORK + "/run", ignore_errors=True)
    run_dir = os.path.join(WORK, "run")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    if args.workload == "build":
        inputs = generate("corpus", os.path.join(run_dir, "corpus"), args.seed, n_docs)
        wl = W.Build(run_dir, inputs)
    else:
        tables_dir = os.path.join(run_dir, "tables")
        inputs = generate("documents", tables_dir, args.seed, doc_rows)
        wl = W.Queries(args.workload, list(W.KG_QUERIES)[:n_queries], tables_dir,
                       list(inputs))

    cal = calib.Calibrator(cores)
    tree = probe.ProcTree()
    tree.start_sampling()
    meter = W.Meter(tree)
    session = Session(cores)
    rec: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "cores": cores, "inputs": inputs, "import_s": import_s,
                 "pre_import_s": pre_import_s}
    try:
        # -- set-up, several times; the first one also launches the JVM
        cal.measure()
        cal.measure()
        setups = []
        for i in range(SETUPS):
            if i:
                session.stop()
            setups.append(session.start())
        cal.measure()
        rec["setups"] = setups

        # -- rounds
        rounds = []
        t_meas = time.perf_counter()
        # traced runs: untraced, traced, untraced; the last one is the
        # reference for the tracing overhead (the first warms the JIT)
        n_rounds = 3 if args.trace else None
        while True:
            k = len(rounds)
            if k:
                session.stop()
                session.start()
            meter.spark = session.spark
            n_spans = len(meter.spans)
            r = wl.round(session.spark, meter, k, traced=bool(args.trace) and k == 1)
            meter.untimed("counts")
            groups = probe.spark_counts(session.spark)
            cal.measure()
            timed = [g for name, g in groups.items() if name.startswith("t:")]
            r["spark"] = {key: sum(g[key] for g in timed)
                          for key in ("jobs", "tasks", "shuffle_bytes", "executor_run_s")}
            r["spark_groups"] = groups
            tops = [s for s in meter.spans[n_spans:] if s["parent"] is None]
            r["cpu_s"] = sum(s["cpu_s"] for s in tops)
            r["wall_s"] = sum(s["wall_s"] for s in tops)
            rounds.append(r)
            elapsed = time.perf_counter() - t_meas
            if n_rounds is not None:
                if len(rounds) == n_rounds:
                    break
            elif elapsed + elapsed / len(rounds) > args.seconds:
                break
        tree.stop_sampling()
        rec["rounds"] = rounds
        rec["py_rss_mb"] = tree.peak_py_rss / 1e6

        # -- checks, outside every timed phase
        meter.untimed("checks")
        t_chk = time.perf_counter()
        problems, failed_rounds = wl.check(session.spark, args.seed)
        rec["problems"] = problems
        rec["checks_s"] = time.perf_counter() - t_chk
        rec["ratio"] = calib.ratio(cal.samples)
    finally:
        tree.stop_sampling()
        t_stop = time.perf_counter()
        session.stop()
        session.stop_jvm()
        rec["stop_s"] = time.perf_counter() - t_stop
        rec["calibration"] = cal.samples
        cal.close()

    ops = wl.ops_per_round()
    rec["attempted"] = ops * len(rounds)
    rec["failed"] = failed_rounds
    rec["correct"] = not problems
    rec["spans"] = meter.spans
    rec["total_s"] = time.perf_counter() - T_START
    # the printed metrics are raw; the host-normalized ones stay in the
    # record (see README "Host normalization" for why)
    metrics = layer_metrics if args.trace else end_to_end
    rec["metrics"] = metrics(rec, (1.0, 1.0))
    rec["normalized"] = metrics(rec, rec["ratio"])
    return rec


def end_to_end(rec: dict, ratio: tuple[float, float]) -> dict:
    """Times are divided by the wall ratio, cpu_s by the CPU ratio.  A
    kg round's warm time is its fastest warm pass: bursts of other load
    on the host slow a stretch of them, never speed one up."""
    rounds = rec["rounds"]
    wall, cpu = ratio
    setup = rec["import_s"] + med([s["start_s"] + s["warmup_s"] for s in rec["setups"]])
    if rec["workload"] == "build":
        cold = [r["build_s"] / wall for r in rounds]
        warm = [r["warm_build_s"] / wall for r in rounds]
        docs = rec["inputs"]["docs"]
    else:
        cold = [r["passes"][0] / wall for r in rounds]
        warm = [min(r["passes"][1:]) / wall for r in rounds]
        docs = rec["inputs"]["documents"]
    m = {
        "setup_s": (setup / wall, "s"),
        "docs_per_s": (docs / med(cold), "docs/s"),
        "cold_pass_s": (med(cold), "s"),
        "warm_pass_s": (med(warm), "s"),
        "cpu_s": (med([r["cpu_s"] / cpu for r in rounds]), "s"),
        "shuffle_mb": (med([r["spark"]["shuffle_bytes"] / 1e6 for r in rounds]), "MB"),
        "stage_mb": (med([r["stage_mb"] for r in rounds]), "MB"),
        "py_rss_mb": (rec["py_rss_mb"], "MB"),
    }
    return {k: {"value": round(v, 6), "unit": u} for k, (v, u) in m.items()}


LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "convert.s": "s", "convert.sentences": "count",
    "fused.s": "s", "fused.mentions_per_s": "mentions/s",
    "linking.canonical_map_s": "s", "linking.components_s": "s",
    "linking.entities": "count", "linking.jobs": "count",
    "pipeline.dedup_s": "s", "pipeline.triples": "count",
    "tables.write_s": "s", "tables.write_mb": "MB", "tables.resume_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_mb": "MB",
    "spark.executor_run_s": "s", "host.calib_s": "s", "trace.overhead_s": "s",
}


def layer_names() -> list[tuple[str, str]]:
    import workloads as W

    names = list(LAYER_UNITS.items())
    for q in W.KG_QUERIES:
        names += [(f"queries.{q}.cold_s", "s"), (f"queries.{q}.stages_built", "count"),
                  (f"queries.{q}.warm_s", "s")]
    return names


def layer_metrics(rec: dict, ratio: tuple[float, float]) -> dict:
    """Per-layer metrics from the traced round (round 1); round 2 is the
    same work untraced, for the tracing overhead."""
    _, traced, plain = rec["rounds"]
    vals = {name: 0.0 for name, _ in layer_names()}
    r = ratio[0]
    vals["session.start_s"] = med([s["start_s"] for s in rec["setups"]]) / r
    vals["session.warmup_s"] = med([s["warmup_s"] for s in rec["setups"]]) / r
    for k, v in traced["layers"].items():
        vals[k] = v / r if k.endswith("_s") else v
    if "fused.mentions_per_s" in traced["layers"]:
        vals["fused.mentions_per_s"] = traced["layers"]["fused.mentions_per_s"] * r
    if rec["workload"] == "build":
        vals["tables.resume_s"] = min(traced["resume_s"]) / r
        vals["linking.jobs"] = traced["spark_groups"].get("t:linking", {}).get("jobs", 0)
    else:
        for q, qr in traced["queries"].items():
            vals[f"queries.{q}.cold_s"] = qr["cold_s"] / r
            vals[f"queries.{q}.stages_built"] = qr["stages_built"]
            vals[f"queries.{q}.warm_s"] = min(qr["warm_s"]) / r
    sp = traced["spark"]
    vals["spark.jobs"] = sp["jobs"]
    vals["spark.tasks"] = sp["tasks"]
    vals["spark.shuffle_mb"] = sp["shuffle_bytes"] / 1e6
    vals["spark.executor_run_s"] = sp["executor_run_s"] / r
    vals["host.calib_s"] = med([c["wall_s"] for c in rec["calibration"]])
    vals["trace.overhead_s"] = (traced["wall_s"] - plain["wall_s"]) / r
    units = dict(layer_names())
    return {k: {"value": round(float(v), 6), "unit": units[k]} for k, v in vals.items()}


def smoke() -> int:
    """Every workload at smoke size, untraced and traced; the
    benchmark's own test."""
    import workloads as W

    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            # the one failing operation: one lineage resume per build round
            want_failed = res["attempted"] // W.Build.ops_per_round() if res and w == "build" else 0
            ok = res is not None and res["correct"] and res["failed"] == want_failed
            bad += not ok
            print(f"{w:13s} trace={trace} {'ok ' if ok else 'BAD'} "
                  f"{time.perf_counter() - t0:6.1f}s "
                  f"{json.dumps(res) if res else p.stderr[-2000:]}", flush=True)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; without --workload, run every workload")
    args = ap.parse_args()
    if args.workload is None:
        if args.smoke:
            return smoke()
        ap.error("--workload is required")
    sys.path.insert(0, HERE)
    import probe

    probe.become_subreaper()
    try:
        rec = run(args)
    finally:
        stray = probe.reap_all()
        if stray:
            print(f"stopped left-over processes: {', '.join(stray)}", file=sys.stderr)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(rec, f, default=str)
    for p in rec["problems"]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
