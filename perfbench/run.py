"""Repository benchmark: one command per workload, run from a checkout root.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0

Workloads (see BENCHMARK.json): ``serve`` (staged build, batch search,
open-loop HTTP serving with deletes) and ``ingest`` (streaming appends,
reads after each append, compactions with deletes). The run checks sampled
results against the DuckDB oracle, prints a human-readable report and, as
its last line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (spans joined to Spark's event log) with ``--trace 1``.

Spark runs at local[nproc] through SPARK_GRAFT_CPUS; every file the run
writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

WORKLOADS = ("ingest", "serve")
# traced copies of end-to-end metrics, for the tracing overhead
TRACED = ("setup_s", "batch_queries_per_s", "index_turns_per_s")
# process-tree memory at the sample with the highest summed RSS; a per-layer
# metric, since JVM heap growth follows GC timing and the Python worker
# count follows request overlap, so it spreads too far to gate a run
MEMORY = ("mem.peak_rss_mb", "mem.jvm_rss_mb", "mem.workers_rss_mb", "mem.workers")


def _spark_env(root: Path, work: Path, nproc: int, trace: bool) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (work / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every process the run
    started (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext

    from perfbench.measure import tree_pids
    started = set(tree_pids(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:       # noqa: BLE001 - any failure: kill it
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return True
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return True
    return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not ((root / "mini_distributed_search_engine_spark").is_dir()
            and (root / "jobs" / "http_serve_job.py").is_file()
            and (root / "BENCHMARK.json").is_file()):
        print("perfbench: run from the root of a checkout of the program "
              "(mini_distributed_search_engine_spark/, jobs/, BENCHMARK.json)",
              file=sys.stderr)
        return 2
    bench = json.loads((root / "BENCHMARK.json").read_text())
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    nproc = len(os.sched_getaffinity(0))
    work = root / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _spark_env(root, work, nproc, bool(args.trace))
    sys.path.insert(0, str(root))

    from mini_distributed_search_engine_spark.session import get_spark
    from perfbench import ingest, serve, trace
    from perfbench.common import Context
    from perfbench.measure import RssSampler
    module = {"serve": serve, "ingest": ingest}[args.workload]

    try:
        with RssSampler() as rss:
            spark = get_spark(f"perfbench-{args.workload}")
            sc = spark.sparkContext
            tracer = trace.Tracer(bool(args.trace), sc if args.trace else None)
            ctx = Context(spark, tracer, args.seed, args.seconds, work, nproc, T0, rss)
            try:
                out = module.run(ctx)
            finally:
                app_id = sc.applicationId
                t_stop = time.perf_counter()
                _stop_spark(spark)
                stop_s = time.perf_counter() - t_stop
        parts = rss.peak_parts
        memory = {"mem.peak_rss_mb": rss.peak_mb,
                  "mem.jvm_rss_mb": parts["jvm"] / 2**20,
                  "mem.workers_rss_mb": parts["workers"] / 2**20,
                  "mem.workers": parts["n_workers"]}

        values = out.e2e
        if args.trace:
            log = trace.read_event_log(work / "eventlog" / app_id)
            costs = trace.charge(tracer.spans, log)
            values = module.layers(out, tracer.spans, costs)
            for name in TRACED:
                values[f"traced.{name}"] = out.e2e[name]
            values.update(memory)
            # a per-layer metric of the other workload reads 0; one of this
            # workload's own must have been measured
            measured = (set(module.LAYERS) | {f"traced.{n}" for n in TRACED}
                        | set(MEMORY))
            for m in wanted:
                if m["name"] not in measured:
                    values[m["name"]] = 0.0
            tracer.dump(root / ".perfbench" / f"spans-{args.workload}-{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} local[{nproc}]")
    for line in out.report:
        print(line)
    print(f"peak_rss_mb: {memory['mem.peak_rss_mb']:.1f} MB (n=1, sampled every 0.5 s "
          f"until the oracle checks): JVM {memory['mem.jvm_rss_mb']:.1f} MB, "
          f"{memory['mem.workers']} Python worker processes "
          f"{memory['mem.workers_rss_mb']:.1f} MB, driver {parts['driver'] / 2**20:.1f} MB")
    print(f"setup_s: {out.e2e['setup_s']:.3f} s (n=1); teardown {stop_s:.1f} s, "
          f"process total {time.perf_counter() - T0:.1f} s")
    print(f"oracle: {out.checked - len(out.mismatches)} of {out.checked} sampled "
          f"results match")
    for m in out.mismatches:
        print(f"MISMATCH {m}")
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        if args.trace:
            print(f"{m['name']}: {float(v):.6g} {m['unit']}")
    correct = out.checked > 0 and not out.mismatches
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
