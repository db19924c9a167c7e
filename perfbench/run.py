"""tegola_spark benchmark: one closed-loop client (a single calling thread) on one
Spark application, ``local[<all cores>]``, running the engine's shipped
defaults through its public entry points.

    python3 perfbench/run.py --workload seed_update --seed 1 --seconds 10 --trace 0

Workloads (inputs are made from ``--seed`` before anything is timed):

* ``seed_update`` -- a live tile set kept by
  ``streaming.live.stream_tiles`` at z0-5: the shipped sf0.1 pages land
  as wave 0 (checked against the pinned 1,345 tiles / 32,113 features /
  1,878,984 bytes), then a seeded wave of 300 pages in one hot spot,
  timed from the moment its file lands until ``read_current`` has
  returned; then the batch seed build (``build_tiles_hierarchical``, what
  ``tegola_spark.cli seed`` runs) of all pages in one file, which must
  equal the live tile set byte for byte. A traced run also times the
  CLI seed itself, sink writes included.
* ``join_dedup`` -- one generated corpus file of 10,000 pages (20% in
  one hot cell, 5% near-duplicate pairs, one empty region): spatial join
  against nations and regions, cell-ring kNN, MinHash LSH and html text
  extraction, each checked against an independent reference.

A run repeats whole rounds of its workload until ``--seconds`` have
passed (every round takes longer than that today, so a run is one
round). The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
lines before it print every metric by name and unit, per-operation
figures and, when traced, which layers a workload does not exercise.
A traced run also writes its spans to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5

E2E = [("setup_s", "s"), ("wall_s", "s"), ("items_per_s", "1/s"),
       ("shuffle_bytes_per_item", "B")]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_environment() -> None:
    """A SPARK_GRAFT_* variable other than the core count would select a
    different program than the one users run."""
    stray = sorted(k for k in os.environ
                   if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS")
    if stray:
        fail(f"refusing to run with engine knobs set: {', '.join(stray)}")
    if not os.path.isfile(os.path.join(ROOT, "tegola_spark", "__init__.py")):
        fail(f"no tegola_spark package beside {HERE}")


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and every process it started."""
    from pyspark import SparkContext

    from perfbench.stats import descendants

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["seed_update", "join_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    check_environment()

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    work_root = os.path.join(ROOT, ".perfbench_work")
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(work_root, run_id)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep the JVM's and Python's temporary files inside the run directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cpus = len(os.sched_getaffinity(0))

    from perfbench import gen, workloads
    from perfbench.stats import RssPoller, Tracer

    gen.check_sf01()
    cls = {"seed_update": workloads.SeedUpdate,
           "join_dedup": workloads.JoinDedup}[args.workload]

    def new_session():
        from tegola_spark.plans.session import get_spark

        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    tracer = Tracer(run_id)
    wl = cls(new_session, tracer, work, args.seed, bool(args.trace))
    rounds = []
    try:
        with RssPoller() as rss:
            for i in range(SETUPS):
                wl.setup(i)
            with tracer.span("warm_up", kind="warm_up") as warm:
                wl.warm_up()
            wl.layer["warmup_s"] = warm["end"] - warm["start"]
            while True:
                with tracer.span("round", kind="round") as rnd:
                    wl.run(len(rounds))
                with tracer.span("collect", kind="trace"):
                    wl.collect()
                rounds.append((rnd["end"] - rnd["start"], wl.e2e()))
                if sum(r[0] for r in rounds) >= args.seconds:
                    break
            if args.trace:
                with tracer.span("trace", kind="trace"):
                    wl.trace_layers()
    except Exception:
        traceback.print_exc()
        shutdown(wl.spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    shutdown(wl.spark)

    e2e = {
        "setup_s": statistics.median(_setup_durations(tracer)),
        "wall_s": statistics.median(r[0] for r in rounds),
        "items_per_s": statistics.median(r[1]["items_per_s"] for r in rounds),
        "shuffle_bytes_per_item": statistics.median(
            r[1]["shuffle_bytes_per_item"] for r in rounds),
    }
    wl.layer["peak_rss_mb"] = rss.peak / 2 ** 20
    print(f"workload {args.workload} seed {args.seed}: {len(rounds)} round(s), "
          f"{wl.attempted} checked operations, {wl.failed} failed "
          f"(fail_ratio {wl.failed / max(wl.attempted, 1):.3f})")
    for name, unit in E2E:
        print(f"  {name:<28} {e2e[name]:>14.4f} {unit}")
    print(f"  {'peak_rss_mb':<28} {wl.layer['peak_rss_mb']:>14.4f} MB")
    print(f"  {'warmup_s':<28} {wl.layer['warmup_s']:>14.4f} s")
    for k, v in wl.summary().items():
        print(f"  {k:<28} {v:>14.4f}")
    for k, v in wl.op_s.items():
        print(f"  op {k:<25} {v:>14.4f} s")
    for note in wl.notes:
        print(f"  {note}")

    if args.trace:
        L = wl.layer
        round_s = e2e["wall_s"]
        top = [s for s in tracer.spans if s["parent"] is not None
               and tracer.spans[s["parent"]]["name"] == "round"]
        L["trace.wall_s"] = round_s
        # the work only a traced run does: status-store reads and the
        # layer prefixes, all outside the timed rounds
        L["trace.overhead_s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                    if s.get("kind") == "trace"
                                    and s["parent"] is None)
        L["trace.span_coverage"] = sum(s["end"] - s["start"] for s in top) / round_s
        for name, _, _ in workloads.LAYER_METRICS:
            if name not in L:
                L[name] = 0.0
                print(f"  {name}: 0 (layer not exercised by {args.workload})")
            elif name in workloads.UNREACHABLE and not L[name]:
                print(f"  {name}: 0 ({workloads.UNREACHABLE[name]})")
        for name, unit, _ in workloads.LAYER_METRICS:
            print(f"  {name:<34} {L[name]:>16.4f} {unit}")
        os.makedirs(work_root, exist_ok=True)
        tracer.write(os.path.join(work_root, f"trace-{run_id}.json"))
        metrics = {n: {"value": float(L[n]), "unit": u}
                   for n, u, _ in workloads.LAYER_METRICS}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


def _setup_durations(tracer) -> list:
    return [s["end"] - s["start"] for s in tracer.spans if s["name"] == "setup"]


if __name__ == "__main__":
    sys.exit(main())
