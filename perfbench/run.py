"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload triplets_chunked --seed 1 --seconds 20 --trace 0

Run from the repository root. The corpus is generated from ``--seed``
outside all timing (and cached under ``perfbench/.work``); the program
sees only the generated files. With ``--trace 0`` the result carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones. The last line of
standard output is the result; the line before it records the run
environment and the output fingerprints. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "1g"

END_TO_END = {  # name → unit
    "setup_s": "s",
    "job_s": "s",
    "rows_out": "rows",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.read_s": "s",
    "chunking.self_s": "s",
    "chunking.chunks": "count",
    "chunking.windows_per_record": "ratio",
    "triplets.self_s": "s",
    "triplets.yield": "ratio",
    "negatives.self_s": "s",
    "negatives.fallback_share": "share",
    "shards.self_s": "s",
    "shards.bytes": "bytes",
    "bm25.index_s": "s",
    "bm25.topk_s": "s",
    "bm25.refresh_self_s": "s",
    "bm25.postings_rows": "rows",
    "bm25.hit_rows": "rows",
    "bm25.pruned_term_share": "share",
    "bm25.hit_query_share": "share",
    "gopher.self_s": "s",
    "gopher.pass_share": "share",
    "decontam.self_s": "s",
    "decontam.contaminated": "count",
    "dedup.self_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "share",
    "dedup.kept_share": "share",
    "dsir.self_s": "s",
    "epoch.order_s": "s",
    "batches.self_s": "s",
    "batches.consumer_wait_s": "s",
    "batches.first_batch_s": "s",
    "batches.resume_first_batch_s": "s",
    "batches.produced": "count",
    "batches.errors": "count",
    "caching.peak_storage_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_environment() -> None:
    """Pin the engine's knobs and keep every file the run writes inside
    the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    jvm_files = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files  # the launcher JVM spark-submit starts first
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Xms{DRIVER_MEM} {jvm_files}'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None


def code_key() -> str:
    """Hash of the package's and the benchmark's sources: a stored output
    fingerprint is compared only with runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "rust_triplets_spark"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if not x.startswith(".") and x != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def environment(spark, seed: int) -> dict:
    system = spark.sparkContext._jvm.System
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
        "seed": seed,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway started, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import rust_triplets_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package from {ROOT}: {exc}")
        return 2
    configure_environment()

    import workloads as wl
    from checks import Checks
    from corpus import cache_key, load_or_generate
    from probes import EngineCounters, Sampler, Tracer

    if args.workload not in wl.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(wl.WORKLOADS)}")
        return 2
    cls = wl.WORKLOADS[args.workload]

    t_gen = time.perf_counter()

    def inputs(seed):
        c = load_or_generate(cls.params, seed, os.path.join(WORK, "corpus"))
        return wl.Inputs(cls.params, seed, c["base"][0], c["refresh"][0], c["base"][1], c["refresh"][1])

    inp = inputs(args.seed)
    warm = inputs(wl.WARMUP_SEED)
    log(f"corpus ready in {time.perf_counter() - t_gen:.1f}s")

    from rust_triplets_spark.session import get_spark

    shutil.rmtree(os.path.join(WORK, "out", cls.name), ignore_errors=True)
    checks = Checks()
    attempted = 0
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        log(f"session started in {time.perf_counter() - t0:.1f}s")
        # input registration: the reader sees every generated doc
        n_read = wl.read_records(spark, inp.base_path).count()
        checks.check("registration.rows", n_read == inp.params.n_docs,
                     f"read {n_read} of {inp.params.n_docs} docs")
        warmup = cls(spark, os.path.join(WORK, "out", cls.name, "warmup"))
        for i in range(wl.WARMUP_PASSES):
            wl.fresh_pass(spark)
            warmup.job(warm)
            log(f"warm-up pass {i + 1} done at {time.perf_counter() - t0:.1f}s")
        work = cls(spark, os.path.join(WORK, "out", cls.name, "measured"))
        setup_s = time.perf_counter() - t0

        from pyspark import SparkContext

        processes = [os.getpid(), SparkContext._gateway.proc.pid]  # Python and the JVM
        job_s = []
        if args.trace == 0:
            with Sampler(processes) as sampler:
                start = time.perf_counter()
                while True:
                    wl.fresh_pass(spark)
                    c0 = time.perf_counter()
                    work.job(inp)
                    job_s.append(time.perf_counter() - c0)
                    attempted += 1
                    if time.perf_counter() - start + job_s[-1] > args.seconds:
                        break
            metrics = {
                "setup_s": setup_s,
                "job_s": statistics.median(job_s),
                "rows_out": work.rows_out(),
                "peak_rss_mb": sampler.peak_rss_mb,
            }
            units = END_TO_END
        else:
            engine = EngineCounters(spark)
            wl.fresh_pass(spark)
            before = engine.snapshot()
            with Sampler(processes, engine) as sampler:
                c0 = time.perf_counter()
                work.job(inp)
                job_s.append(time.perf_counter() - c0)
            spark_counters = engine.delta(before, engine.snapshot())
            wl.fresh_pass(spark)
            tracer = Tracer(engine)
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(work.traced_job(inp, tracer))
            attempted += 2
            metrics.update({
                "caching.peak_storage_mb": sampler.peak_storage_mb,
                "spark.shuffle_write_mb": spark_counters["shuffle_write_mb"],
                "spark.spill_mb": spark_counters["spill_mb"],
                "spark.gc_s": spark_counters["gc_s"],
                "spark.tasks": spark_counters["tasks"],
                "spark.exchanges": spark_counters["exchanges"],
                "trace.overhead_s": tracer.duration("pass") - job_s[0],
            })
            units = PER_LAYER
            os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
            trace_path = os.path.join(WORK, "trace", f"{cls.name}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"workload": cls.name, "seed": args.seed, "untraced_job_s": job_s[0],
                           "spans": tracer.to_json()}, f, indent=1)
        env = environment(spark, args.seed)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        log(f"engine stopped in {time.perf_counter() - t_stop:.1f}s")

    t_check = time.perf_counter()
    fingerprints = work.check(checks, inp)
    fp_path = os.path.join(WORK, "fingerprints",
                           f"{cls.name}-{cache_key(cls.params, args.seed)}-{code_key()}.json")
    known = {}
    if os.path.exists(fp_path):
        with open(fp_path) as f:
            known = json.load(f)
    for part, fp in fingerprints.items():
        if part in known:
            checks.check(f"{part}.fingerprint_repeats", fp == known[part],
                         f"{fp} != {known[part]} from an earlier run of this seed and code")
    if not checks.failed and set(fingerprints) - set(known):
        # only output that passed every check becomes a reference
        os.makedirs(os.path.dirname(fp_path), exist_ok=True)
        tmp = f"{fp_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump({**fingerprints, **known}, f)
        os.replace(tmp, fp_path)
    attempted += len(checks.results)
    log(f"{len(checks.results)} checks in {time.perf_counter() - t_check:.1f}s")
    for name, _, detail in checks.failed:
        log(f"check failed: {name}: {detail}")

    print(json.dumps({"env": env, "workload": cls.name, "passes": len(job_s),
                      "job_s": job_s, "fingerprints": fingerprints,
                      "checks": len(checks.results)}))
    print(json.dumps({
        "correct": not checks.failed,
        "attempted": attempted,
        "failed": len(checks.failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
