"""Benchmark command: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload mutate_serve --seed 1 --seconds 25 \
        --trace 0

Run from the root of a checkout.  The command generates its inputs from
the seed under ``.perfbench_work/`` (removed at exit), starts Spark on
``local[nproc]`` with the engine's own session settings, sets the workload
up several times (``setup_s`` is the median), runs a fixed number of
untimed warm-up cycles, then sends operations one at a time for a fixed
number of whole cycles, sized so that they take about ``--seconds`` at the
reference commit.  Every operation's output is checked afterwards against
an oracle; a wrong or failed operation counts in ``failed`` and makes the
exit code 1.  The last stdout line is the JSON result: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  The traced run
also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROC0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 5


def canary_s() -> float:
    """Host-speed reference: a fixed pure-Python loop, median of 3."""
    def once():
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(3))


def quantile(xs, q: float) -> float:
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fns in os.walk(path):
        for fn in fns:
            files += 1
            size += os.path.getsize(os.path.join(d, fn))
    return files, size


def start_spark(work: str, cpus: int):
    from tostore_spark import get_spark
    # only the scratch directories are set: everything else is get_spark's
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def run_cycles(wl, tracer, n_cycles: int, trace: bool,
               timed: bool = True) -> list:
    """Closed loop, one client: the next op is sent when the last returns.
    The loop runs a fixed number of whole cycles, so every run does the
    same work on the same table states.  In the traced run each kind's
    operations are traced in alternate cycles, half of the kinds starting
    with the first cycle and half with the second: the untraced half, of
    the same kinds and close in time and table state, gives the overhead
    reference inside the same run."""
    entries = []
    kinds = sorted(set(wl.mix))
    seen = dict.fromkeys(kinds, 0)
    for _ in range(n_cycles):
        for kind in wl.cycle():
            traced = (trace and timed
                      and (seen[kind] + kinds.index(kind)) % 2 == 0)
            seen[kind] += 1
            p = wl.params(kind)
            tracer.begin_op(kind, traced)
            err = result = None
            t0 = time.perf_counter()
            try:
                result = wl.run(kind, p)
            except Exception as e:             # counted, never fatal
                err = f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
            tracer.end_op(len(result) if isinstance(result, list) else 0)
            entries.append({
                "kind": kind, "p": p, "result": result, "error": err,
                "lat_s": lat, "traced": traced, "timed": timed,
                "expected": (wl.observe(kind, p, result) if err is None
                             else None)})
    return entries


def layer_metrics(tracer, entries, cache0, cache1, store) -> dict:
    """Per-layer metrics from the traced operations (per-op means unless
    the name says otherwise) plus per-op-kind breakdowns."""
    from workloads import LLM_OPS, MUTATE_CYCLE
    ops = tracer.ops
    self_t = tracer.self_times()
    n = max(len(ops), 1)

    def tot(key, rows=ops):
        return sum(o.get(key, 0) for o in rows)

    def med(kind_pred):
        xs = [e["lat_s"] for e in entries
              if e["traced"] and kind_pred(e["kind"])]
        return statistics.median(xs) if xs else 0.0

    query_ops = [o for o in ops if o["kind"] in ("point_get", "group_count")]
    reads = [o for o in ops if o["rows_out"] > 0]
    traced = [e["lat_s"] for e in entries if e["traced"]]
    untraced = [e["lat_s"] for e in entries
                if e["timed"] and not e["traced"]]
    m = {
        # self time of the benchmark's "query" spans: chain building and
        # compile, outside Spark actions and their Catalyst phases
        "query.build_s": self_t.get("query", 0.0) / max(len(query_ops), 1),
        "catalyst.plan_s": tot("plan_s") / n,
        "sched.jobs": (tot("jobs_build") + tot("jobs_action")) / n,
        "sched.jobs_in_build": tot("jobs_build") / n,
        "sched.stages": tot("stages") / n,
        "sched.tasks": tot("tasks") / n,
        "exec.stage_s": tot("stage_s") / n,
        "exec.input_bytes": tot("input_bytes") / n,
        "exec.shuffle_read_bytes": tot("shuffle_read_bytes") / n,
        "exec.shuffle_write_bytes": tot("shuffle_write_bytes") / n,
        "exec.spill_bytes": tot("spill_bytes") / n,
        "scan.files_read": tot("files_read") / n,
        "scan.rows_read_per_row_out":
            tot("input_records", reads) / max(tot("rows_out", reads), 1),
        "query_cache.hit_ratio": _hit_ratio(cache0, cache1),
        "write.insert_s": med(lambda k: k == "insert"),
        "write.upsert_s": med(lambda k: k == "upsert"),
        "write.update_s": med(lambda k: k == "update_key"),
        "write.delete_s": med(lambda k: k == "delete_range"),
        "store.flush_s": med(lambda k: k == "flush"),
        "store.files_on_disk": store.get("files", 0),
        "store.bytes_written_per_user_byte": store.get("written_per_user", 0),
        "llmops.dedup_s": med(lambda k: k == "minhash_pairs"),
        "llmops.similarity_s": med(lambda k: k == "knn_join"),
        "llmops.text_s": med(lambda k: k == "text_stats"),
        "vector.topk_s": med(lambda k: k == "cosine_topk"),
        "trace.lat_p50_s": statistics.median(traced) if traced else 0.0,
        "trace.overhead_s": (statistics.median(traced)
                             - statistics.median(untraced)
                             if traced and untraced else 0.0),
    }
    for kind in LLM_OPS + sorted(set(MUTATE_CYCLE)):
        rows = [o for o in ops if o["kind"] == kind]
        m[f"op.{kind}.lat_p50_s"] = med(lambda k, kind=kind: k == kind)
        m[f"op.{kind}.jobs"] = ((tot("jobs_build", rows)
                                 + tot("jobs_action", rows)) / len(rows)
                                if rows else 0.0)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-op", type=int, default=None,
                    help="self-test: perturb the expected value of op N")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import tostore_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import datagen
    from tracing import Tracer
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("data", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({"TZ": "UTC", "TMPDIR": os.path.join(work, "tmp"),
                       "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
    time.tzset()
    spark = None
    try:
        host_canary = canary_s()
        cpus = len(os.sched_getaffinity(0))
        data_dir = os.path.join(work, "data")
        wl = WORKLOADS[args.workload](None, data_dir, work, args.seed, None)
        # inputs are generated while the JVM starts (numpy and the parquet
        # writer release the GIL); both are timed on their own
        gen = {}

        def generate():
            t0 = time.perf_counter()
            gen["sizes"] = datagen.write_tables(wl.tables(), data_dir)
            gen["s"] = time.perf_counter() - t0
        th = threading.Thread(target=generate)
        th.start()
        t = time.perf_counter()
        spark = start_spark(work, cpus)
        jvm_start_s = time.perf_counter() - t
        th.join()
        if "sizes" not in gen:
            raise RuntimeError("input generation failed")
        sizes, datagen_s = gen["sizes"], gen["s"]
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl.spark, wl.tracer = spark, tracer

        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = run_cycles(wl, tracer, wl.WARMUP_CYCLES, False, timed=False)
        if wl.STATEFUL:
            # the warm-up's writes are dropped: the timed cycles start
            # from a freshly loaded table, whatever the warm-up did
            wl.setup()
        warmup_s = time.perf_counter() - t
        to_first_op_s = time.time() - T_PROC0
        n_cycles = max(1, round(args.seconds / wl.CYCLE_S))

        cache0 = _cache_counts(wl.db)
        user0 = getattr(wl, "user_bytes", 0)
        store0 = dir_stats(getattr(wl, "warehouse", "")) \
            if getattr(wl, "warehouse", None) else (0, 0)
        ticks0 = cpu_ticks()
        t = time.perf_counter()
        timed = run_cycles(wl, tracer, n_cycles, bool(args.trace))
        elapsed = time.perf_counter() - t
        ticks1 = cpu_ticks()
        # the share of CPU time the hypervisor gave to other guests while
        # the loop ran: on a shared host, latency moves with it
        steal_frac = ((ticks1[0] - ticks0[0])
                      / max(ticks1[1] - ticks0[1], 1))
        tracer.close()
        cache1 = _cache_counts(wl.db)

        storage_amp, store = 1.0, {}
        if getattr(wl, "warehouse", None):
            files, size = dir_stats(wl.warehouse)
            storage_amp = size / wl.live_bytes()
            store = {"files": files, "written_per_user":
                     max(size - store0[1], 0)
                     / max(wl.user_bytes - user0, 1)}

        lats = [e["lat_s"] for e in timed]
        p90 = quantile(lats, 0.9)
        info = {"workload": args.workload, "seed": args.seed,
                "cpus": cpus,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(spark.conf.get(
                    "spark.sql.shuffle.partitions")),
                "pyspark": spark.version, "cycles": n_cycles,
                "ops": len(timed), "warmup_ops": len(warm),
                "samples_beyond_p90": sum(1 for x in lats if x > p90),
                "setup_runs_s": [round(x, 4) for x in setups],
                "datagen_s": round(datagen_s, 3),
                "jvm_start_s": round(jvm_start_s, 3),
                "warmup_s": round(warmup_s, 3),
                "measured_s": round(elapsed, 3),
                "steal_frac": round(steal_frac, 4),
                "time_to_first_op_s": round(to_first_op_s, 3),
                "tables": sizes}
        if args.trace:
            layers = layer_metrics(tracer, timed, cache0, cache1, store)
            layers.update({
                "proc.peak_rss_mb": resource.getrusage(
                    resource.RUSAGE_SELF).ru_maxrss / 1024
                + jvm_peak_rss_mb(spark),
                "proc.jvm_start_s": jvm_start_s,
                "proc.datagen_s": datagen_s,
                "proc.warmup_s": warmup_s,
                "proc.time_to_first_op_s": to_first_op_s,
                "host.canary_s": host_canary,
                "host.steal_frac": steal_frac,
            })
        # the oracles need no Spark: the JVM shuts down meanwhile
        stopper = threading.Thread(target=stop_spark, args=(spark,))
        stopper.start()
        spark = None
        t = time.perf_counter()
        # warm-up operations are checked too
        entries = warm + timed
        try:
            ok = wl.verify(entries, corrupt=args.corrupt_op)
        finally:
            stopper.join()
        info["verify_s"] = round(time.perf_counter() - t, 3)
        failed = sum(1 for e, good in zip(entries, ok)
                     if e["error"] or not good)
        for e, good in zip(entries, ok):
            if e["error"] or not good:
                print(f"perfbench: FAILED {e['kind']} {e['p']!r:.200}: "
                      f"{e['error'] or 'result differs from oracle'}",
                      file=sys.stderr)
        print("# " + json.dumps(info), file=sys.stderr)

        if args.trace:
            metrics = dict(layers,
                           fail_frac=failed / len(entries))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": statistics.median(setups),
                "ops_per_s": len(timed) / elapsed,
                "lat_p50_s": quantile(lats, 0.5),
                "lat_p90_s": p90,
                "ok_frac": 1.0 - failed / len(entries),
                "storage_amp": storage_amp,
            }
        result = {"correct": failed == 0, "attempted": len(entries),
                  "failed": failed,
                  "metrics": {k: {"value": float(v), "unit": _unit(k)}
                              for k, v in metrics.items()}}
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _hit_ratio(before, after) -> float:
    hits = after[0] - before[0]
    looks = hits + after[1] - before[1]
    return hits / looks if looks else 0.0


def _cache_counts(db) -> tuple[int, int]:
    qc = (db.status or {}).get("query_cache") if db is not None else None
    return (qc["hits"], qc["misses"]) if qc else (0, 0)


def _unit(name: str) -> str:
    if name in ("ops_per_s", "storage_amp"):
        return {"ops_per_s": "1/s", "storage_amp": "ratio"}[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_frac", "_per_row_out", "_per_user_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
