#!/usr/bin/env python3
"""Restructure-cycle benchmark: one closed-loop client (a single driver
process on ``local[<cores>]``, each operation starting when the previous one
ended) driving the engine through its public entry points, timed end to end
and, with ``--trace 1``, layer by layer.

Run from anywhere; the repository root is the parent of this directory:

    python3 perfbench/run.py --workload cycle_append_gzip --seed 1 \\
        --seconds 10 --trace 0

Workloads (BENCHMARK.json records why each is there):

* ``cycle_append_gzip`` -- one service cycle, ``RestructurePlan.run()`` then
  ``SourceDataCleaner.run()``, on a tree an untimed priming run already
  restructured (csv + gzip + keep-last dedup), after a batch of new
  containers arrived: late data for existing bins, new hours, and one
  replayed batch of exact duplicates.
* ``query_mix`` -- one pass over twelve registered queries, each built and
  then executed by collecting its rows; the first pass of the process.

A run: inputs are generated from ``--seed`` by a child process (cached per
seed under ``.perfbench_work/inputs``); set-up is timed (package import,
``get_spark``, one warm-up restructure of a one-container tree); untimed
preparation follows (the cycle's priming run and a cleaner pass over one
topic); then operations run back to back until ``--seconds`` have passed, at
least one. Outputs are checked outside the timed region: the cycle's after
every operation, the query mix's against the DuckDB oracles once at the end.
A run with any failed operation exits 1.

End-to-end metrics (the last stdout line; the lines before it print them
with units and sample counts, plus ``restructure_s``, ``records_per_s``
(arrival records per second of ``restructure_s``), ``clean_s``,
``query_mix_s``, ``op_cpu_s``, ``failed_frac``, the Spark config and the
host's busy and steal fractions):

* ``setup_s`` -- set-up as above, once per run;
* ``op_s`` -- median wall time of one operation;
* ``peak_rss_mb`` -- peak resident memory of the driver, its JVM and the
  JVM's Python workers, sampled every 50 ms inside operations.

``--trace 1`` adds one traced operation and one more untraced one (their
difference is ``trace.overhead_s``) and reports per-layer metrics instead:
self times of the spans in spans.py around public callables, and executor
metrics of the Spark stages each span submitted. ``plan_build_s`` and
``job_exec_s`` are the driver's plan construction and the calls that run the
output jobs: ``plans.build`` and ``sinks.write`` spans on the cycle,
``queries.<name>.build`` and ``queries.<name>.exec`` spans on the query mix.
Layers whose spans only one workload opens (``sources.list_s``,
``sinks.write_s``, ``plans.cleaner.*``, ``queries.<name>.*``) are printed on
the ``{"perfbench": "layers", ...}`` line; every span goes to
``.perfbench_work/traces/<workload>-<seed>.jsonl``.
"""
from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans as tr  # noqa: E402  (stdlib-only; the package is imported in set-up)

WORK = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"

WORKLOADS = ("cycle_append_gzip", "query_mix")

QUERY_MIX = (
    "tpch_q21_waiting_suppliers",
    "tpch_q18_large_orders",
    "simhash_near_dup_docs",
    "minhash_lsh_pairs_docs",
    "jaccard_pairs_docs",
    "sparse_cosine_pairs_docs",
    # duplicate_clusters over Jaccard pairs. embedding_dup_clusters reaches the
    # same operator, but its DuckDB oracle spends 8-13 s planning an 88 kB LSH
    # query at any table size, longer than all the other oracles together.
    "dedup_clusters_docs",
    "bpe_encode_docs",
    "cosine_topk_bruteforce",
    "ann_int8_topk",
    "ann_lsh_topk",
    "ann_ivfpq_topk",
)
#: tables the mix reads; their rows are the mix's stated input size
QUERY_TABLES = ("lineitem", "orders", "customer", "supplier", "documents", "embeddings")


def log(msg: str) -> None:
    print(
        f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
        file=sys.stderr, flush=True,
    )


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def inputs(kind: str, seed: int) -> tuple[str, dict]:
    """Directory and expectations of one generated input set, built by a
    child process the first time a seed is used (keyed by the generator's
    own source too, so an edited generator never reuses stale inputs)."""
    import hashlib

    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    out = os.path.join(WORK, "inputs", f"{kind}-{seed}-{version}")
    done = os.path.join(out, "expect.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        env = dict(os.environ, PYTHONPATH=ROOT)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--kind", kind,
             "--seed", str(seed), "--out", out],
            cwd=ROOT, env=env, check=True,
        )
    with open(done) as fh:
        return out, json.load(fh)


# ---------------------------------------------------------------------------
# Spark session, pinned
# ---------------------------------------------------------------------------


def spark_conf() -> dict[str, str]:
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": local,
        # a fixed-size heap: no resizing, so resident memory follows the
        # work instead of the collector's sizing decisions
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }


def pin_environment() -> None:
    """Keep every scratch file of Spark, the JVM and Python inside WORK."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = ROOT
    # the short launcher JVM spark-submit starts first takes only these
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python workers,
    and wait until each has exited."""
    from pyspark import SparkContext

    workers = [p for p in tr.process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    tr.wait_gone(workers, timeout_s=30)


# ---------------------------------------------------------------------------
# output checks (outside the timed region)
# ---------------------------------------------------------------------------


def tree_rows(out_dir: str, ext: str) -> dict[str, tuple[int, str]]:
    """Relative path (with a plain ``.csv`` extension) -> (rows, header) of
    every output file under `out_dir`."""
    found = {}
    for base, _dirs, files in os.walk(out_dir):
        for name in files:
            if not name.endswith(ext):
                continue
            path = os.path.join(base, name)
            with open(path, "rb") as fh:
                data = fh.read()
            text = (gzip.decompress(data) if ext.endswith(".gz") else data).decode()
            lines = text.split("\n")
            body = [ln for ln in lines[1:] if ln]
            rel = os.path.relpath(path, out_dir)[: -len(ext)] + ".csv"
            found[rel] = (len(body), lines[0])
    return found


def check_tree(out_dir: str, ext: str, expected: dict[str, int]) -> set[str]:
    """Topics whose output differs from the prediction (paths, row counts,
    headers)."""
    found = tree_rows(out_dir, ext)
    bad = set()
    for rel in set(found) | set(expected):
        topic = rel.split("/")[2] if rel.count("/") >= 3 else rel
        got = found.get(rel)
        if got is None or rel not in expected or got[0] != expected[rel]:
            bad.add(topic)
        elif not got[1].startswith("key.projectId,key.userId,key.sourceId,value.time"):
            bad.add(topic)
    return bad


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Run:
    """Operation outcomes and timing samples of one benchmark process."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.records = 0  # stated input size of one operation
        self.failures: list[str] = []

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def outcome(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def restructure_config(in_dir: str, out_dir: str, cycle: bool):
    from radar_output_restructure_spark.plans.restructure import (
        DedupConfig,
        RestructureConfig,
    )

    if cycle:
        return RestructureConfig(
            input_dir=in_dir, output_dir=out_dir, source_format="avro",
            compression="gzip", dedup=DedupConfig(enable=True),
        )
    return RestructureConfig(input_dir=in_dir, output_dir=out_dir, source_format="avro")


def restructure(spark, cfg):
    from radar_output_restructure_spark.plans.restructure import RestructurePlan

    plan = RestructurePlan(spark, cfg)
    return plan, plan.run()


class CycleWorkload:
    ext = ".csv.gz"

    def __init__(self, run: Run, spark, seed: int):
        self.run, self.spark = run, spark
        self.src, self.expect = inputs("cycle", seed)
        self.dir = os.path.join(WORK, f"run-{os.getpid()}", "cycle")
        self.in_dir = os.path.join(self.dir, "in")
        self.out_dir = os.path.join(self.dir, "out")
        run.records = self.expect["arrival_records"]

    def prepare(self) -> None:
        """Untimed: the priming run, a snapshot of its input and output, and
        one cleaner pass over the smallest topic, so the timed cycle does not
        pay the cleaner's first-use JIT and Python-worker costs (reset()
        restores whatever that pass deleted)."""
        from radar_output_restructure_spark.plans.cleaner import (
            CleanerConfig,
            SourceDataCleaner,
        )

        from gen import TOPICS

        shutil.copytree(os.path.join(self.src, "prime"), self.in_dir)
        cfg = restructure_config(self.in_dir, self.out_dir, True)
        plan, _ = restructure(self.spark, cfg)
        bad = set(plan.last_errors) | check_tree(
            self.out_dir, self.ext, self.expect["prime_rows"]
        )
        for topic in sorted(bad):
            self.run.outcome(f"prime:{topic}", False)
        os.makedirs(self.out_dir, exist_ok=True)  # empty when priming failed
        shutil.copytree(self.in_dir, self.dir + "/snap_in")
        shutil.copytree(self.out_dir, self.dir + "/snap_out")
        SourceDataCleaner(
            self.spark, cfg, CleanerConfig(age_days=0), plan=plan
        ).run_topic(TOPICS[-1])

    def check(self) -> None:
        """Nothing left: every operation's output was checked after it ran."""

    def reset(self) -> None:
        for d in (self.in_dir, self.out_dir):
            shutil.rmtree(d)
        shutil.copytree(self.dir + "/snap_in", self.in_dir)
        shutil.copytree(self.dir + "/snap_out", self.out_dir)
        shutil.copytree(
            os.path.join(self.src, "arrival"), self.in_dir, dirs_exist_ok=True
        )

    def op(self, meter: "Meter", tracer: tr.Tracer | None) -> dict:
        from radar_output_restructure_spark.plans.cleaner import (
            CleanerConfig,
            SourceDataCleaner,
        )
        from radar_output_restructure_spark.plans.restructure import RestructurePlan

        self.reset()
        cfg = restructure_config(self.in_dir, self.out_dir, True)
        with meter, maybe_span(tracer, "op"):
            plan = RestructurePlan(self.spark, cfg)
            plan.run()
            restructure_s = meter.lap()
            cleaner = SourceDataCleaner(
                self.spark, cfg, CleanerConfig(age_days=0), plan=plan
            )
            cleaned = cleaner.run()
        self.verify(plan, cleaned)
        return {
            **meter.sample(),
            "restructure_s": restructure_s,
            "clean_s": meter.wall_s - restructure_s,
        }

    def verify(self, plan, cleaned: dict) -> None:
        from radar_output_restructure_spark.sources.kafka_tree import (
            parse_offset_filename,
        )

        from gen import TOPICS

        bad = set(plan.last_errors) | check_tree(
            self.out_dir, self.ext, self.expect["rows"]
        )
        for topic in TOPICS:
            self.run.outcome(f"restructure:{topic}", topic not in bad)
        want = {}
        for rel in self.expect["deleted"]:
            want.setdefault(parse_offset_filename(rel)[0], set()).add(
                os.path.join(self.in_dir, rel)
            )
        for topic in TOPICS:
            got = cleaned.get(topic, {"deleted": [], "revoked": ["missing"]})
            ok = (
                not got["revoked"]
                and set(got["deleted"]) == want.get(topic, set())
                and not any(os.path.exists(p) for p in got["deleted"])
            )
            self.run.outcome(f"clean:{topic}", ok)


class QueryWorkload:
    def __init__(self, run: Run, spark, seed: int):
        import __spark_entry__ as entry

        self.run, self.spark = run, spark
        src, expect = inputs("qmix", seed)
        self.tables = os.path.join(src, "tables")
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.results: dict[str, object] = {}  # the last pass's rows
        run.records = sum(expect["tables"][t] for t in QUERY_TABLES)

    def prepare(self) -> None:
        """Nothing: the first pass after set-up is timed, as in a batch job
        that runs the mix once per process. A warm-up pass would add ~25 s
        to every run."""

    def op(self, meter: "Meter", tracer: tr.Tracer | None) -> dict:
        """One pass: build each query, then execute it by collecting its
        rows. The results are at most a few thousand rows; collecting them
        took no longer than the noop sink in a side-by-side run, and it
        gives check() rows to compare without running every query twice."""
        timings = {}
        with meter, maybe_span(tracer, "op"):
            for name in QUERY_MIX:
                ok = True
                tb = time.perf_counter()
                try:
                    with maybe_span(tracer, f"queries.{name}.build"):
                        df = self.queries[name](self.spark, self.tables)
                    te = time.perf_counter()
                    with maybe_span(tracer, f"queries.{name}.exec"):
                        self.results[name] = df.toPandas()
                except Exception as exc:  # one failing query must not hide the rest
                    log(f"{name}: {type(exc).__name__}: {exc}")
                    ok = False
                    te = time.perf_counter()
                    self.results[name] = exc
                tx = time.perf_counter()
                timings[f"queries.{name}.build_s"] = te - tb
                timings[f"queries.{name}.exec_s"] = tx - te
                self.run.outcome(f"query:{name}", ok)
        return {**meter.sample(), "query_mix_s": meter.wall_s, **timings}

    def check(self) -> None:
        """Untimed, once per process: the last pass's rows against the
        DuckDB oracles, two at a time (DuckDB releases the GIL while a query
        runs)."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        con = duckdb.connect(config={"threads": 2})
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp')}'")
        for name in sorted(os.listdir(self.tables)):
            con.execute(
                f"CREATE VIEW {name[:-len('.parquet')]} AS "
                f"SELECT * FROM '{os.path.join(self.tables, name)}'"
            )

        def oracle(name: str):
            cur = con.cursor()
            try:
                return cur.execute(self.oracles[name]).df()
            finally:
                cur.close()

        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = {name: pool.submit(oracle, name) for name in QUERY_MIX}
            for name in QUERY_MIX:
                ok = False
                try:
                    got = self.results.get(name)
                    if got is None or isinstance(got, Exception):
                        raise RuntimeError(f"no result: {got!r}")
                    ok = frames_equal(got, futures[name].result())
                    if not ok:
                        log(f"{name}: result differs from its oracle")
                except Exception as exc:  # one failing query must not hide the rest
                    log(f"{name}: {type(exc).__name__}: {exc}")
                self.run.outcome(f"oracle:{name}", ok)
        con.close()


def frames_equal(got, want) -> bool:
    """Same columns and the same multiset of rows; numbers equal to 1e-9
    relative, since the oracles sum in another order than Spark."""
    import numpy as np

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            kind = df[c].dtype.kind
            if kind == "M":
                df[c] = df[c].astype("datetime64[us]").astype("int64")
            elif kind == "b":
                df[c] = df[c].astype("int64")
            elif kind == "O":  # strings, and arrays rendered as lists
                df[c] = df[c].map(
                    lambda v: str(list(v)) if hasattr(v, "__len__") and not isinstance(v, str) else str(v)
                )
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    a, b = norm(got), norm(want)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind in "fiu" and y.dtype.kind in "fiu":
            if not np.allclose(x.astype(float), y.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif not (x == y).all():
            return False
    return True


class Meter:
    """Wall clock, process-tree CPU time and (when given a sampler) resident
    memory around the timed region of one operation."""

    def __init__(self, rss: tr.RssSampler | None = None):
        self.rss = rss
        self.wall_s = self.cpu_s = 0.0

    def __enter__(self) -> "Meter":
        if self.rss:
            self.rss.measure(True)
        self._cpu0 = tr.tree_cpu_s(os.getpid())
        self._t0 = time.perf_counter()
        return self

    def lap(self) -> float:
        return time.perf_counter() - self._t0

    def __exit__(self, *exc) -> None:
        self.wall_s = self.lap()
        self.cpu_s = tr.tree_cpu_s(os.getpid()) - self._cpu0
        if self.rss:
            self.rss.measure(False)

    def sample(self) -> dict:
        return {"op_s": self.wall_s, "op_cpu_s": self.cpu_s}


def maybe_span(tracer: tr.Tracer | None, name: str):
    """A span when tracing, else nothing."""
    import contextlib

    return tracer.span(name) if tracer else contextlib.nullcontext()


WORKLOAD_CLASSES = {
    "cycle_append_gzip": CycleWorkload,
    "query_mix": QueryWorkload,
}


# ---------------------------------------------------------------------------
# set-up, loop, report
# ---------------------------------------------------------------------------


def setup(args, tiny: tuple[str, dict], tracer: tr.Tracer | None):
    """Package import + get_spark + one warm-up restructure. Returns
    (spark, setup seconds, warm-up ok)."""
    t0 = time.perf_counter()
    with maybe_span(tracer, "session.start"):
        from radar_output_restructure_spark import get_spark
        from radar_output_restructure_spark.plans import cleaner, restructure as _r  # noqa: F401

        if args.workload == "query_mix":
            import __spark_entry__  # noqa: F401  (registers the queries)
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=spark_conf(),
        )
    with maybe_span(tracer, "session.warmup"):
        out = os.path.join(WORK, f"run-{os.getpid()}", "warmup")
        plan, _ = restructure(
            spark, restructure_config(os.path.join(tiny[0], "tree"), out, False)
        )
    elapsed = time.perf_counter() - t0
    ok = not plan.last_errors and not check_tree(out, ".csv", tiny[1]["rows"])
    return spark, elapsed, ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "radar_output_restructure_spark", "__init__.py")):
        log(f"no radar_output_restructure_spark package under {ROOT}")
        return 2
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no __spark_entry__.py under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    pin_environment()
    os.chdir(ROOT)

    tiny = inputs("tiny", args.seed)
    kind = {"cycle_append_gzip": "cycle", "query_mix": "qmix"}
    inputs(kind[args.workload], args.seed)
    run = Run()
    tracer = tr.Tracer() if args.trace else None
    log("inputs ready")
    spark, setup_s, warm_ok = setup(args, tiny, tracer)
    run.outcome("warmup", warm_ok)
    log(f"set-up took {setup_s:.1f}s")
    try:
        return measure(args, run, spark, setup_s, tracer)
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, f"run-{os.getpid()}"), ignore_errors=True)
        log("stopped")


def measure(args, run: Run, spark, setup_s: float, tracer) -> int:
    store = tr.StatusStore(spark)
    if tracer is not None:
        tracer.stage_clock = store.next_stage_id
    wl = WORKLOAD_CLASSES[args.workload](run, spark, args.seed)
    wl.prepare()
    log("prepared")

    rss = tr.RssSampler().start()
    host0 = tr.proc_stat()
    t_loop = time.perf_counter()
    try:
        # untraced operations: the end-to-end samples
        while True:
            for k, v in wl.op(Meter(rss), None).items():
                run.sample(k, v)
            log(f"operation {len(run.samples['op_s'])}: {run.samples['op_s'][-1]:.3f}s")
            if time.perf_counter() - t_loop >= args.seconds:
                break
        host = tr.host_load(host0, tr.proc_stat())
        log(f"{len(run.samples['op_s'])} timed operation(s) done")
        traced = untraced = None
        if tracer is not None:
            install_wrappers(tracer)
            try:
                tracer.run_id = f"{args.workload}-{args.seed}-traced"
                traced = wl.op(Meter(), tracer)
            finally:
                tracer.unwrap_all()
            # the same operation once more untraced, as warm as the traced
            # one (the first operations of a process still speed up): the
            # difference is the tracing overhead
            untraced = wl.op(Meter(), None)
        wl.check()
    finally:
        rss.stop()

    n = len(run.samples["op_s"])
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "op_s": (statistics.median(run.samples["op_s"]), "s", n),
        "peak_rss_mb": (rss.peak / 2**20, "MB", n),
    }
    phases = {
        k: (statistics.median(v), "s", len(v))
        for k, v in run.samples.items()
        if k in ("restructure_s", "clean_s", "query_mix_s", "op_cpu_s")
    }
    if "restructure_s" in run.samples:
        phases["records_per_s"] = (
            run.records / phases["restructure_s"][0], "1/s", phases["restructure_s"][2]
        )
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "spark": {"master": f"local[{CORES}]", **spark_conf()},
        "host": host,
        "input_records": run.records,
        "failed_frac": run.failed / max(run.attempted, 1),
        "failures": run.failures[:20],
    }
    print(json.dumps({"perfbench": "config", **report}))
    for name, (value, unit, count) in {**e2e, **phases}.items():
        print(f"{name:>16} = {value:.4f} {unit} (median of {count})")
    metrics = {k: {"value": v, "unit": u} for k, (v, u, _c) in e2e.items()}
    if tracer is not None:
        metrics, layer_report = layer_metrics(tracer, store, traced, untraced)
        print(json.dumps({"perfbench": "layers", **layer_report}))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl")
        )
    correct = run.failed == 0
    if not correct:
        print(f"FAILED {run.failed} of {run.attempted} operations: {run.failures[:5]}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    # a run with a failed operation is no measurement: its timings may be
    # short because work was skipped
    return 0 if correct else 1


# ---------------------------------------------------------------------------
# traced run: wrappers and per-layer metrics
# ---------------------------------------------------------------------------


def install_wrappers(tracer: tr.Tracer) -> None:
    import radar_output_restructure_spark.plans.restructure as restructure_mod
    from radar_output_restructure_spark.plans.cleaner import SourceDataCleaner
    from radar_output_restructure_spark.plans.restructure import RestructurePlan
    from radar_output_restructure_spark.sources import manifest, tables

    def listed(span, args, kwargs, result):
        span.counts["files"] = len(result)

    def pruned(span, args, kwargs, result):
        span.counts["listed"] = len(args[1])
        span.counts["pruned"] = len(args[1]) - len(result)

    def committed(span, args, kwargs, result):
        span.counts["commits"] = 1

    def schema_files(span, args, kwargs, result):
        span.counts["files"] = len(args[1])

    def written(span, args, kwargs, result):
        span.counts["files"] = len(result)
        span.counts["paths"] = list(result)

    def cleaned(span, args, kwargs, result):
        span.counts["deleted"] = len(result["deleted"])
        span.counts["revoked"] = len(result["revoked"])

    w = tracer.wrap
    w(RestructurePlan, "run", "plans.restructure.run")
    w(RestructurePlan, "run_topic", "plans.restructure.topic")
    w(RestructurePlan, "topics", "sources.list")
    w(RestructurePlan, "list_candidate_files", "sources.list", listed)
    w(RestructurePlan, "transform", "plans.build")
    w(restructure_mod, "read_topic_tree", "plans.build")
    w(restructure_mod, "write_output_tree_direct", "sinks.write", written)
    w(manifest.ProcessedFileManifest, "load", "sources.manifest")
    w(manifest.ProcessedFileManifest, "prune", "sources.manifest", pruned)
    w(manifest.ProcessedFileManifest, "commit", "sources.manifest", committed)
    w(manifest.ProcessedFileManifest, "revoke", "sources.manifest")
    w(manifest.ProcessedFileManifest, "maybe_compact", "sources.manifest")
    w(manifest.SchemaFingerprintCache, "get_many", "sources.schema", schema_files)
    w(manifest.AttemptRegistry, "assign", "sources.schema")
    w(SourceDataCleaner, "run", "plans.cleaner.run")
    w(SourceDataCleaner, "run_topic", "plans.cleaner.topic", cleaned)
    w(SourceDataCleaner, "candidate_files", "plans.cleaner.candidates")
    w(SourceDataCleaner, "verify_topic", "plans.cleaner.verify")
    # table loads of the query modules (each imported load_table by name)
    for mod in list(sys.modules.values()):
        if (
            getattr(mod, "__name__", "").startswith("radar_output_restructure_spark.queries")
            and getattr(mod, "load_table", None) is tables.load_table
        ):
            w(mod, "load_table", "sources.table")


#: layers that claim self time; whatever no wrapped callable claims is
#: "orchestration" (the op span and the bodies of run/run_topic)
NAMED_LAYERS = (
    "sources", "plans.build", "sinks.write", "plans.cleaner",
    "queries.build", "queries.exec",
)


def layer_of(name: str) -> str:
    """Span name -> layer whose self time it counts toward."""
    if name.startswith("queries.") and name.endswith(".build"):
        return "queries.build"
    if name.startswith("queries.") and name.endswith(".exec"):
        return "queries.exec"
    if name.startswith("sources."):
        return "sources"
    if name in ("plans.build", "sinks.write"):
        return name
    if name.startswith("plans.cleaner."):
        return "plans.cleaner"
    return "orchestration"


def layer_metrics(tracer, store, traced: dict, untraced: dict):
    """Per-layer metrics of the traced operation (JSON metrics) plus the
    full per-span report."""
    store.wait_idle()
    spans = tracer.spans
    setup = {s.name: s.dur for s in spans if s.name.startswith("session.")}
    root = next(i for i, s in enumerate(spans) if s.name == "op")
    ids = tracer.descendants(root)
    self_t = tracer.self_times()
    op = spans[root]

    by_name: dict[str, float] = {}
    by_layer = dict.fromkeys((*NAMED_LAYERS, "orchestration"), 0.0)
    counts: dict[str, int] = {}
    for i in ids:
        s = spans[i]
        by_name[s.name + "_s"] = by_name.get(s.name + "_s", 0.0) + self_t[i]
        by_layer[layer_of(s.name)] += self_t[i]
        for k, v in s.counts.items():
            if k != "paths":
                counts[f"{s.name}.{k}"] = counts.get(f"{s.name}.{k}", 0) + v

    stages = [
        st for st in store.stages(op.stage_lo)
        if op.stage_lo <= st["stage_id"] < op.stage_hi and st["status"] != "SKIPPED"
    ]
    owner = {st["stage_id"]: tracer.owner_of_stage(st["stage_id"], ids) for st in stages}

    def owner_name(st) -> str:
        o = owner[st["stage_id"]]
        return "" if o is None else spans[o].name

    def owned_by(prefix: str, st) -> bool:
        return owner_name(st).startswith(prefix)

    def owner_layer(st) -> str:
        return layer_of(owner_name(st))

    def is_map(st) -> bool:
        return st["shuffle_write_records"] > 0

    run_ms = sum(st["run_ms"] for st in stages)
    # bytes of the files the writer produced, rows counted from them
    written = [p for i in ids for p in spans[i].counts.get("paths", [])]
    rows = nbytes = 0
    for p in written:
        with open(p, "rb") as fh:
            data = fh.read()
        nbytes += len(data)
        text = gzip.decompress(data) if p.endswith(".gz") else data
        rows += max(text.count(b"\n") - 1, 0)

    metrics = {
        "session.start_s": (setup["session.start"], "s"),
        "session.warmup_s": (setup["session.warmup"], "s"),
        "sources.self_s": (by_layer["sources"], "s"),
        "plan_build_s": (by_layer["plans.build"] + by_layer["queries.build"], "s"),
        "job_exec_s": (by_layer["sinks.write"] + by_layer["queries.exec"], "s"),
        "trace.unattributed_s": (by_layer["orchestration"], "s"),
        "trace.overhead_s": (traced["op_s"] - untraced["op_s"], "s"),
        "spark.map_task_s": (sum(st["run_ms"] for st in stages if is_map(st)) / 1e3, "s"),
        "spark.map_jvm_cpu_s": (sum(st["cpu_ns"] for st in stages if is_map(st)) / 1e9, "s"),
        # result stages of the output jobs: the writer's on the cycle, the
        # collects on the query mix
        "spark.result_task_s": (
            sum(
                st["run_ms"] for st in stages
                if not is_map(st) and owner_layer(st) in ("sinks.write", "queries.exec")
            ) / 1e3,
            "s",
        ),
        "spark.gc_s": (sum(st["gc_ms"] for st in stages) / 1e3, "s"),
        "spark.core_busy_frac": (run_ms / 1e3 / (op.dur * CORES), "ratio"),
        "sources.files_listed": (counts.get("sources.manifest.listed", 0), "count"),
        "sources.files_pruned": (counts.get("sources.manifest.pruned", 0), "count"),
        "sources.manifest_commits": (counts.get("sources.manifest.commits", 0), "count"),
        "sources.schema_files": (counts.get("sources.schema.files", 0), "count"),
        "sinks.files_written": (counts.get("sinks.write.files", 0), "count"),
        "sinks.rows_written": (rows, "count"),
        "sinks.bytes_written": (nbytes, "B"),
        "spark.shuffle_write_bytes": (sum(st["shuffle_write_bytes"] for st in stages), "B"),
        "spark.shuffle_read_bytes": (sum(st["shuffle_read_bytes"] for st in stages), "B"),
        "spark.spill_bytes": (sum(st["spill_bytes"] for st in stages), "B"),
        "spark.jobs": (store.job_count(op.stage_lo, op.stage_hi), "count"),
        "spark.tasks": (sum(st["tasks"] for st in stages), "count"),
        "spark.failed_tasks": (sum(st["failed_tasks"] for st in stages), "count"),
        "plans.cleaner.deleted": (counts.get("plans.cleaner.topic.deleted", 0), "count"),
        "plans.cleaner.revoked": (counts.get("plans.cleaner.topic.revoked", 0), "count"),
        "queries.shuffle_write_bytes": (
            sum(st["shuffle_write_bytes"] for st in stages if owned_by("queries.", st)),
            "B",
        ),
    }
    # layers only one workload reaches: printed beside the metrics
    detail = {
        "traced_op_s": traced["op_s"],
        "untraced_op_s": untraced["op_s"],
        "spark.stages": len(stages),
        "self_s_by_span": {k: round(v, 4) for k, v in sorted(by_name.items())},
    }
    for name in (
        "sources.list_s", "sources.manifest_s", "sources.schema_s",
        "plans.build_s", "sinks.write_s",
        "plans.cleaner.candidates_s", "plans.cleaner.verify_s",
    ):
        if name in by_name:
            detail[name] = by_name[name]
    if "sinks.write_s" in by_name:
        detail["spark.write_task_s"] = sum(
            st["run_ms"] for st in stages
            if not is_map(st) and owner_layer(st) == "sinks.write"
        ) / 1e3
    for layer in ("queries.build", "queries.exec"):
        if by_layer[layer]:
            detail[f"{layer}_s"] = by_layer[layer]
    if "plans.cleaner.topic_s" in by_name:
        # the cleaner's per-topic span minus candidates and verify: the
        # deletes and revocations
        detail["plans.cleaner.delete_s"] = by_name["plans.cleaner.topic_s"]
        detail["spark.verify_task_s"] = sum(
            st["run_ms"] for st in stages if owned_by("plans.cleaner.verify", st)
        ) / 1e3
    for phase in ("restructure_s", "clean_s", "query_mix_s"):
        if phase in traced:
            detail[f"traced_{phase}"] = traced[phase]
            detail[f"untraced_{phase}"] = untraced[phase]
    # how much of traced restructure_s the named layers claim: the rest is
    # the bodies of run/run_topic and the plan's construction. Set it
    # against the tracing overhead of the same phase.
    runs = [i for i in ids if spans[i].name == "plans.restructure.run"]
    if runs:
        inside = [j for r in runs for j in tracer.descendants(r)]
        by_inner = {
            layer: sum(self_t[j] for j in inside if layer_of(spans[j].name) == layer)
            for layer in NAMED_LAYERS
        }
        detail["restructure_self_by_layer_s"] = {
            k: round(v, 4) for k, v in by_inner.items() if v
        }
        detail["restructure_named_layers_s"] = sum(by_inner.values())
        detail["restructure_unclaimed_s"] = (
            traced["restructure_s"] - detail["restructure_named_layers_s"]
        )
        detail["restructure_overhead_s"] = traced["restructure_s"] - untraced["restructure_s"]
    detail.update(
        {k: round(v, 4) for k, v in traced.items() if k.startswith("queries.")}
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


if __name__ == "__main__":
    sys.exit(main())
