"""Benchmark of the spark-graft engine: one workload per process.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl --seed 1 --seconds 15 --trace 0

The run generates its inputs from ``--seed`` under ``.perfbench_work/``,
sets up the engine's session three times and reports the median
(``setup_s``), runs one cold pass of the workload's operations and
``WARMUP`` warm-up passes, then measured warm passes for ``--seconds``.
Every result of every pass is checked against the engine's DuckDB
oracle (``__spark_entry__.oracle_sql()``) with
``tools/check_oracle.compare``. The last line of stdout is one JSON
object: ``correct``, ``attempted`` and ``failed`` (operations run, and
those that raised or differed from the oracle) and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "datapipeline_spike_spark"
# Spark driver heap for local mode (SPARK_GRAFT_DRIVER_MEM is the engine's
# deployment setting; its default of 48g assumes more than 15 GB of memory)
DRIVER_MEM = "3g"
SETUPS = 3
# passes after the cold one that no metric reads (their results are
# still checked): the JIT keeps speeding passes up for several passes,
# and the first ones spread most from run to run
WARMUP = 2
# measured warm passes per run at least; the traced run alternates
# untraced and traced passes, at least MIN_WARM_TRACED of each, to leave
# time for probes
MIN_WARM = 4
MIN_WARM_TRACED = 2
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (Linux;
    0 elsewhere). Logged per run: it explains runs slowed by neighbours."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


# --- set-up -------------------------------------------------------------------


def start_session():
    """Import the engine afresh, build its session and warm it: the JVM,
    whole-stage codegen and the Python/Arrow worker (one SQL job and one
    job through the engine's Arrow UDF)."""
    for m in [m for m in sys.modules if m == ENGINE or m.startswith(ENGINE + ".")]:
        del sys.modules[m]
    from datapipeline_spike_spark import plans  # noqa: F401  (the registry import is set-up)
    from datapipeline_spike_spark.functions.spectral import spectral_energy_fft
    from datapipeline_spike_spark.session import get_session

    spark = get_session("perfbench", cpus=cores(), extra_conf=SPARK_CONF)
    spark.range(0, 100_000, numPartitions=cores()).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(64).selectExpr("array(id, id + 1, id * 2) AS a").select(spectral_energy_fft("a")).collect()
    return spark


def set_up() -> tuple[object, list[float]]:
    """``SETUPS`` set-ups: the first from process start (interpreter,
    engine import, JVM launch), the others stop the session and set it
    up again in the same JVM, re-importing the engine."""
    spark = start_session()
    samples = [time.perf_counter() - T_START]
    for _ in range(SETUPS - 1):
        spark.stop()
        t = time.perf_counter()
        spark = start_session()
        samples.append(time.perf_counter() - t)
    return spark, samples


def shut_down(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit is handled the same way
            proc.kill()
            proc.wait()


# --- passes -------------------------------------------------------------------


@dataclass
class Pass:
    kind: str
    traced: bool
    wall: float = 0.0
    cpu_s: float = 0.0
    results: dict = field(default_factory=dict)
    op_s: dict = field(default_factory=dict)
    op_cpu: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    barriers: int = 0
    pinned_mb: float = 0.0


def storage(spark) -> tuple[set[int], float]:
    """Persistent RDD ids and the storage they hold, in MB."""
    jsc = spark.sparkContext._jsc
    ids = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    held = sum(int(r.memSize()) + int(r.diskSize()) for r in jsc.sc().getRDDStorageInfo())
    return ids, held / 1e6


def run_pass(ctx, ops, kind: str, traced: bool) -> Pass:
    """Every operation once: build, consume, drain. The pass time sums
    each operation (plan build and consumption) and the drain after it;
    the status-store and storage readouts between operations are not
    timed."""
    from datapipeline_spike_spark.cache import unpersist_all

    p = Pass(kind, traced)
    ctx.tracer.enabled = traced
    first_span = len(ctx.tracer.spans)
    for op in ops:
        before, _ = storage(ctx.spark)
        t = time.perf_counter()
        try:
            res = op.run(ctx)
        except Exception as e:  # noqa: BLE001 — a raising operation is counted as failed
            res = e
        t_op = time.perf_counter() - t
        ids, held = storage(ctx.spark)
        p.barriers += len(ids - before)
        p.pinned_mb = max(p.pinned_mb, held)
        t = time.perf_counter()
        with ctx.tracer.span("cache.unpersist_all", op.name):
            unpersist_all(ctx.spark)
        t_drain = time.perf_counter() - t
        p.wall += t_op + t_drain
        p.op_s[op.name] = (t_op, t_drain)
        p.results[op.name] = res
        p.op_cpu[op.name] = sum(j.stages.cpu_s for j in ctx.tracer.collect())
        p.cpu_s += p.op_cpu[op.name]
    p.spans = ctx.tracer.spans[first_span:]
    ctx.tracer.enabled = False
    log(f"{kind} pass{' (traced)' if traced else ''}: {p.wall:.3f} s, executor cpu {p.cpu_s:.3f} s; "
        + ", ".join(f"{k} {a:.2f}+{b:.2f}" for k, (a, b) in p.op_s.items()))
    return p


def run_probes(ctx) -> tuple[list, dict]:
    """The traced run's layer probes, each forced alone (see workloads)."""
    from datapipeline_spike_spark.cache import unpersist_all
    from workloads import probes

    ctx.tracer.enabled = True
    first_span = len(ctx.tracer.spans)

    def force(name: str, label: str, fn) -> None:
        with ctx.tracer.span(name, label):
            fn()
        ctx.tracer.collect()

    out = probes(ctx, force)
    ctx.tracer.collect()
    unpersist_all(ctx.spark)
    ctx.tracer.enabled = False
    return ctx.tracer.spans[first_span:], out


# --- oracle -------------------------------------------------------------------


def file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class Oracle:
    """DuckDB over the generated files. Each result is computed once per
    (oracle SQL, input-file digests, seed) and kept under
    ``.perfbench_work/oracle`` for later runs."""

    def __init__(self, data_dir: str, tables, seed: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {cores()}")
        digests = []
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            digests.append(f"{t}={file_digest(path)}")
        self.inputs = "|".join(digests) + f"|seed={seed}"
        self.cache_dir = os.path.join(WORK, "oracle")
        os.makedirs(self.cache_dir, exist_ok=True)

    def result(self, sql: str):
        import pandas as pd

        key = hashlib.sha256((sql + "\0" + self.inputs).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = self.con.execute(sql).df()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df


def load_compare():
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def check(passes, ops, oracle, oracle_sql) -> tuple[int, int]:
    """(attempted, failed) over every operation of every pass."""
    compare = load_compare()
    attempted = failed = 0
    for op in ops:
        expected = oracle.result(oracle_sql[op.oracle_name])
        for p in passes:
            attempted += 1
            res = p.results[op.name]
            problems = [f"raised {res!r}"] if isinstance(res, Exception) else compare(op.name, res, expected)
            if problems:
                failed += 1
                log(f"FAIL {p.kind} {op.name}: " + "; ".join(problems))
    return attempted, failed


# --- metrics ------------------------------------------------------------------

FUNCTION_SPANS = (
    "functions.text.shingles",
    "functions.text.tokens",
    "operators.dedup.minhash_signature_from_shingles",
    "operators.dedup.simhash64",
    "functions.spectral.spectral_energy_fft",
)
OPERATOR_SPANS = (
    "operators.dedup.lsh_candidate_pairs",
    "operators.dedup.connected_components",
    "operators.similarity.semdedup",
    "operators.similarity.brute_force_topk",
    "operators.similarity.lsh_bucket_topk",
    "operators.similarity.hard_negative_mining",
    "operators.joins.asof_join",
    "operators.sessions.sessionize",
)
CURATION_STAGE_SPANS = (
    "curation.10_paragraph_dedup",
    "curation.20_quality_floor",
    "curation.30_neardup_best_copy",
    "curation.40_redacted",
)


def per_op_median(warm: list[Pass], cost) -> float:
    """A warm pass's cost as the sum over operations of each one's
    median across the warm passes: a burst of host contention that
    slows one operation in one pass moves no median."""
    return sum(statistics.median(cost(p, name) for p in warm) for name in warm[0].op_s)


def warm_cpu_s(warm: list[Pass]) -> float:
    return per_op_median(warm, lambda p, op: p.op_cpu[op])


def end_to_end(setups, warm: list[Pass]) -> dict:
    return {
        "setup_s": (statistics.median(setups), "s"),
        "warm_pass_s": (per_op_median(warm, lambda p, op: sum(p.op_s[op])), "s"),
    }


def per_layer(tracer, cold: Pass, untraced: list[Pass], traced: list[Pass], probe_spans, probe_out,
              curation_stages) -> dict:
    n = len(traced)
    spans = [s for p in traced for s in p.spans]

    def named(pool, name):
        return [s for s in pool if s.name == name]

    def wall(pool, name):
        return sum(s.wall for s in named(pool, name))

    def self_s(pool, name):
        return sum(tracer.self_time(s) for s in named(pool, name))

    def cpu(pool, name):
        return sum(s.totals.cpu_s for s in named(pool, name))

    def total(pool, attr):
        return sum(getattr(s.totals, attr) for s in pool)

    exec_spans = named(spans, "exec")
    exec_s = wall(spans, "exec") / n
    m = {
        "cold_pass_s": (cold.wall, "s"),
        "cpu_s": (warm_cpu_s(untraced), "s"),
        "plans.build_s": (wall(spans, "plans.build") / n, "s"),
        "plans.build_jobs": (sum(s.jobs for s in named(spans, "plans.build")) / n, "count"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (sum(s.jobs for s in exec_spans) / n, "count"),
        "exec.stages": (total(exec_spans, "stages") / n, "count"),
        "exec.tasks": (total(exec_spans, "tasks") / n, "count"),
        "exec.failed_tasks": (total(exec_spans, "failed_tasks") / n, "count"),
        "sched.idle_frac": (1 - total(exec_spans, "run_s") / n / (exec_s * cores()) if exec_s else 0.0, "ratio"),
        "load.s": (self_s(probe_spans, "load"), "s"),
        "load.input_mb": (total(spans, "input_bytes") / n / 1e6, "MB"),
    }
    for name in FUNCTION_SPANS:
        m[f"{name}.s"] = (self_s(probe_spans, name), "s")
        m[f"{name}.cpu_s"] = (cpu(probe_spans, name), "s")
    for name in OPERATOR_SPANS:
        m[f"{name}.s"] = (self_s(probe_spans, name), "s")
    m.update({
        "shuffle.write_mb": (total(spans, "shuffle_write") / n / 1e6, "MB"),
        "shuffle.read_mb": (total(spans, "shuffle_read") / n / 1e6, "MB"),
        "spill_mb": (total(spans, "spill") / n / 1e6, "MB"),
        "executor.gc_s": (total(spans, "gc_s") / n, "s"),
        "dedup.lsh_precision": (probe_out.get("dedup.lsh_precision", 0.0), "ratio"),
    })
    for stage in curation_stages:
        m[f"curation.{stage}.rows_out"] = (probe_out.get(f"curation.{stage}.rows_out", 0), "count")
    for name in CURATION_STAGE_SPANS:
        m[f"{name}.s"] = (self_s(probe_spans, name), "s")
    m.update({
        "pipeline.curation_profile.s": (self_s(probe_spans, "pipeline.curation_profile"), "s"),
        "cache.barriers": (sum(p.barriers for p in traced) / n, "count"),
        "cache.pinned_mb": (max(p.pinned_mb for p in traced), "MB"),
        "cache.unpersist_all.s": (wall(spans, "cache.unpersist_all") / n, "s"),
        "sources.upsert_latest.s": (self_s(probe_spans, "sources.upsert_latest"), "s"),
        "sources.scd2_upsert.s": (self_s(probe_spans, "sources.scd2_upsert"), "s"),
        "sources.output_mb": (probe_out.get("sources.output_bytes", 0) / 1e6, "MB"),
        "sources.versions_committed": (probe_out.get("sources.versions_committed", 0), "count"),
        "trace.overhead_s": (statistics.median(p.wall for p in traced) - statistics.median(p.wall for p in untraced), "s"),
        "trace.unmapped_jobs": (len(tracer.unmapped_jobs), "count"),
        "trace.spans": (len(tracer.spans), "count"),
        "warm_pass_traced_s": (statistics.median(p.wall for p in traced), "s"),
        "warm_pass_untraced_s": (statistics.median(p.wall for p in untraced), "s"),
    })
    return m


# --- main ---------------------------------------------------------------------


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    if importlib.util.find_spec(ENGINE) is None or not os.path.exists(os.path.join(ROOT, "tools", "check_oracle.py")):
        log(f"the engine ({ENGINE}/, tools/check_oracle.py) is not in {ROOT}: run from the root of a checkout")
        return 2
    args = parse_args(argv)
    from gen import TABLES, generate
    from spans import Tracer
    from workloads import CURATION_STAGES, WORKLOADS, Ctx

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # every file the engine or Spark writes stays inside the checkout
    os.environ.update(
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    workload = WORKLOADS[args.workload]
    scratch = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    steal0 = steal_s()
    spark, setups = set_up()
    log(f"set-up samples: {', '.join(f'{s:.3f}' for s in setups)} s (local[{cores()}], driver heap {DRIVER_MEM})")
    try:
        data_dir = os.path.join(WORK, "data", f"{workload.name}-{args.seed}")
        manifest = generate(data_dir, args.seed, workload.scale, workload.copies)
        log("inputs: " + ", ".join(f"{t} {v['rows']} rows {v['bytes']} B" for t, v in manifest["tables"].items()))
        # the cold pass runs in the declared order: the first operation
        # pays the session's remaining warm-up, so a seeded order would
        # add its own spread to cold_pass_s; the seed orders the warm passes
        warm_ops = list(workload.ops)
        random.Random(args.seed).shuffle(warm_ops)
        tracer = Tracer(spark)
        ctx = Ctx(spark, data_dir, args.seed, tracer, scratch)
        traced_run = bool(args.trace)

        cold = run_pass(ctx, workload.ops, "cold", traced_run)
        warmup = [run_pass(ctx, warm_ops, "warm-up", False) for _ in range(WARMUP)]
        t0 = time.perf_counter()
        untraced: list[Pass] = []
        traced: list[Pass] = []
        while True:
            enough = (min(len(untraced), len(traced)) >= MIN_WARM_TRACED if traced_run
                      else len(untraced) >= MIN_WARM)
            if enough and time.perf_counter() - t0 >= args.seconds:
                break
            use_trace = traced_run and len(traced) < len(untraced)
            (traced if use_trace else untraced).append(run_pass(ctx, warm_ops, "warm", use_trace))
        probe_spans, probe_out = run_probes(ctx) if traced_run else ([], {})
        if traced_run:
            tracer.dump(os.path.join(WORK, f"spans-{workload.name}-{args.seed}.jsonl"))
            if tracer.unmapped_jobs:
                log(f"DEFECT: {len(tracer.unmapped_jobs)} Spark jobs mapped to no span: "
                    + "; ".join(f"job {j.job_id} group {j.group} at {j.name}" for j in tracer.unmapped_jobs[:20]))
    finally:
        shut_down(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    import __spark_entry__

    oracle = Oracle(data_dir, TABLES, args.seed)
    attempted, failed = check([cold] + warmup + untraced + traced, workload.ops, oracle, __spark_entry__.oracle_sql())
    log(f"{len(untraced)} untraced and {len(traced)} traced warm passes; {failed}/{attempted} operations failed; "
        f"host steal during the run {steal_s() - steal0:.2f} cpu-s")
    if traced_run:
        metrics = per_layer(tracer, cold, untraced, traced, probe_spans, probe_out, CURATION_STAGES)
    else:
        metrics = end_to_end(setups, untraced)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
