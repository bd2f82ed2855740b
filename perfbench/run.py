"""Benchmark: one workload as a single-client closed loop on local[nproc].

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 27 --trace 0

Run from the repository root.  The run generates its inputs from the seed,
starts a session, makes a cold pass over the workload's ops that also checks
every op's output, then makes one warm pass per ``WARM_PASS_S`` of
``--seconds`` (at least two), so that every run measures the same passes.
The first third of the warm passes lets the JIT settle; the metrics are
medians over the rest.  The last line of stdout
is one JSON object with the end-to-end metrics (``--trace 0``) or, from a
separate run with the Spark event log and layer spans on, the per-layer
metrics (``--trace 1``).  Scratch files live under ``perfbench/.work`` and
are removed at exit; oracle answers are cached per seed under
``perfbench/.cache``.  See LAYERS.md for what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("tpch", "maplejuice")
# inputs per workload: "tables" = (lineitem scale factor, documents,
# embeddings), "corpus" = (files, lines, vocabulary)
SIZES = {
    "tpch": {"tables": (0.01, 100, 100)},
    "maplejuice": {"tables": (0.001, 100, 100), "corpus": (8, 40_000, 50_000)},
}
SMOKE_SIZES = {
    "tpch": {"tables": (0.001, 100, 100)},
    "maplejuice": {"tables": (0.001, 100, 100), "corpus": (2, 2_000, 500)},
}
# A fixed-size driver heap: G1 otherwise starts at 1/64 of RAM and grows on
# its own schedule, which moved both speed and resident memory from run to
# run.  The inputs are small; 3 GB also keeps the run modest on a shared host.
DRIVER_MEM = "3g"
# One warm pass per this many seconds of --seconds.  Spark keeps getting
# faster for many passes, so a pass count that followed the clock would
# measure runs at different points of that curve.
WARM_PASS_S = 3.0
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "ok_frac": "ratio"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=27)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    return ap.parse_args(argv)


def _cache_key(*parts) -> str:
    h = hashlib.sha256((HERE / "datagen.py").read_bytes())
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def make_inputs(seed: int, sizes: dict, work: Path, ctx) -> None:
    import datagen

    ctx.sf_dir = str(work / "tables")
    datagen.write_tables(Path(ctx.sf_dir), seed, *sizes["tables"])
    if "corpus" in sizes:
        ctx.corpus = work / "corpus"
        ctx.counts = datagen.write_corpus(ctx.corpus, seed, *sizes["corpus"])


def oracle_frames(seed: int, sizes: tuple, names: list[str], sf_dir: str) -> dict:
    """DuckDB answers for each op, computed once per seed and cached."""
    import pandas as pd

    from mapreduceproject_spark.oracle import duck_connect
    from mapreduceproject_spark.plans import ORACLES

    out, con = {}, None
    cache = HERE / ".cache" / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    for name in names:
        f = cache / f"{name}-{_cache_key(seed, sizes, ORACLES[name])}.pkl"
        if not f.exists():
            con = con or duck_connect(sf_dir)
            tmp = f.with_suffix(f".{os.getpid()}.tmp")
            con.execute(ORACLES[name]).df().to_pickle(tmp)
            tmp.replace(f)
        out[name] = pd.read_pickle(f)
    if con is not None:
        con.close()
    return out


def stop(pid: int, procstat) -> None:
    """Stop the session and the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    children = procstat.tree(pid)[1:]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(procstat.alive(c) for c in children):
        time.sleep(0.05)
    for c in children:
        if procstat.alive(c):
            os.kill(int(c), 9)


def _pass_cache(args) -> Path:
    tag = "-smoke" if args.smoke else ""
    return HERE / ".cache" / "pass_s" / f"{args.workload}-{args.seed}-{args.seconds:g}{tag}.json"


def untraced_pass_s(args) -> float:
    """pass_s of an untraced run on the same seed: cached, else run one."""
    f = _pass_cache(args)
    if not f.exists():
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
        subprocess.run(cmd + ["--smoke"] * args.smoke, cwd=REPO, check=True, stdout=subprocess.DEVNULL)
    return json.loads(f.read_text())["pass_s"]


def run(args) -> dict:
    import procstat

    t_proc = time.perf_counter() - procstat.process_age_s()
    pid = os.getpid()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{pid}"
    for sub in ("tmp", "local", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM  # read by session.get_spark
    sys.path.insert(0, str(REPO))
    for exe in (HERE / "bin").iterdir():
        exe.chmod(0o755)
    try:
        return _measure(args, work, t_proc)
    finally:
        stop(pid, procstat)
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, work: Path, t_proc: float) -> dict:
    import tempfile

    import procstat
    import pyspark.cloudpickle
    import workloads

    from mapreduceproject_spark import bootstrap, plans, session
    from mapreduceproject_spark.sources.store import SdfsStore

    tempfile.tempdir = None  # pick up TMPDIR
    # the mappers defined in this directory travel to the workers by value
    pyspark.cloudpickle.register_pickle_by_value(workloads)
    pid = os.getpid()
    ops = workloads.ops(args.workload)
    ctx = workloads.Ctx(spark=None, work=work)
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer)
        ctx.span = tracer.span
    span = ctx.span

    t0 = time.perf_counter()
    sizes = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
    make_inputs(args.seed, sizes, work, ctx)
    queries = [o.name for o in ops if o.name in plans.ORACLES]
    ctx.oracle = oracle_frames(args.seed, sizes["tables"], queries, ctx.sf_dir)
    excluded = time.perf_counter() - t0

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # compiler threads that live for the whole run, so that cpu_s can
        # leave JIT compilation out (procstat.cpu_s)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM} "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",  # the default zstd has no stdlib reader
            "spark.eventLog.dir": str(work / "eventlog"),
        })
    t_start = time.perf_counter()
    with span("start", "session"):
        spark = session.get_spark(
            app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
        )
        bootstrap.ensure_worker_imports(spark)
    t_warm = time.perf_counter()
    with span("warmup", "session"):
        spark.range(1_000_000).selectExpr("sum(id)").collect()
    ctx.spark = spark
    if args.workload == "maplejuice":
        ctx.store = SdfsStore(work / "sdfs")
    t_first = time.perf_counter()

    attempted = failed = ok = 0
    checked: dict[str, bool] = {}
    passes: list[dict] = []
    mem = 0.0
    n_warm = max(2, round(args.seconds / WARM_PASS_S))
    for p in range(1 + n_warm):
        if tracer:
            tracer.pass_no = p
        times: dict[str, float] = {}
        cpu, w0 = 0.0, time.perf_counter()
        with span(f"pass{p}", "pass"):
            for op in ops:
                attempted += 1
                check = p == 0
                cpu0 = procstat.cpu_s(pid)
                try:
                    with span(op.name, "op"):
                        wall, good = op.run(ctx, check)
                except Exception as e:  # a failed op is counted, not fatal
                    failed += 1
                    print(f"# {op.name} failed: {e!r:.300}", file=sys.stderr)
                    good = False
                else:
                    times[op.name] = wall
                cpu += procstat.cpu_s(pid) - cpu0
                if good is not None:
                    checked[op.name] = checked.get(op.name, True) and good
                    if not good:
                        print(f"# {op.name}: output does not match", file=sys.stderr)
                ok += op.name in times and checked.get(op.name, False)
                spark.catalog.clearCache()  # untimed, as bench.py does
                mem = max(mem, procstat.pss_mb(pid))
        passes.append({"wall": time.perf_counter() - w0, "cpu": cpu, "ops": times})
        print(f"# pass {p}: {passes[-1]['wall']:.2f} s "
              + " ".join(f"{n}={t:.2f}" for n, t in times.items()), file=sys.stderr)

    measured = list(range(1 + n_warm // 3, 1 + n_warm))
    names = [o.name for o in ops if all(o.name in passes[i]["ops"] for i in measured)]
    e2e = {
        "setup_s": t_first - t_proc - excluded,
        "pass_s": sum(statistics.median(passes[i]["ops"][n] for i in measured) for n in names),
        "cpu_s": statistics.median(passes[i]["cpu"] for i in measured),
        "peak_rss_mb": mem,
        "ok_frac": ok / attempted,
    }
    result = {"correct": failed == 0 and ok == attempted, "attempted": attempted, "failed": failed}
    stop(pid, procstat)
    if not args.trace:
        f = _pass_cache(args)
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(json.dumps({"pass_s": e2e["pass_s"]}))
        metrics = e2e
    else:
        metrics = spans.per_layer(tracer, spans.read_events(work / "eventlog"), measured)
        metrics["session.start_s"] = t_warm - t_start
        metrics["session.warmup_s"] = t_first - t_warm
        metrics["session.cold_pass_s"] = passes[0]["wall"]
        metrics["trace.pass_s"] = e2e["pass_s"]
        metrics["trace.overhead_s"] = e2e["pass_s"] - untraced_pass_s(args)
    units = E2E_UNITS if not args.trace else spans.LAYER_METRICS
    result["metrics"] = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO / "mapreduceproject_spark" / "__init__.py").is_file():
        print("perfbench: run from a checkout that holds mapreduceproject_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
