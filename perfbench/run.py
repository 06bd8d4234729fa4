#!/usr/bin/env python3
"""Benchmark of the aw3d30_parquet_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload {ingest,pipeline} --seed N \\
        --seconds S --trace {0,1}

One process, one client, closed loop: operations are dispatched one
after another (the contract ``scratch.begin_query`` assumes) on
``local[nproc]``. A run

1. sets the session up once, timed from the start of the process,
2. makes one cold pass, then steady passes until they have lasted
   ``--seconds``, and at least the workload's count; a pass is
   the workload's queries in a seeded order or, for ``ingest``, seeded
   GeoTIFF tiles through both read paths and the skip-if-exists re-run,
3. checks every pass's outputs outside the timed regions.

The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` (event log and job groups on) the
per-layer metrics. The full record of a run — every operation, the host
noise, the spans — is written under ``.perfbench_cache/runs/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SF_DIR = os.path.join(HERE, "data", "sf0.1")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: int) -> float:
    """q-th percentile (inclusive method)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def prepare_env(trace: bool) -> None:
    """Keep every file the run writes inside the checkout, pin the core
    count, driver memory and time zone, and enable the event log for a
    traced run. Must run before pyspark starts its JVM."""
    tmp = os.path.join(CACHE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # spread() caps its fan-out at a core count the engine otherwise
    # measures with a CPU-burn probe at its first call; on a shared
    # host the probe read 3 or 4 from run to run, so the same seed got
    # different plans. Pinned, every run executes the same plans.
    os.environ.setdefault("SPARK_GRAFT_EFFECTIVE_CORES", cpus)
    # the engine's 16g default lets the driver heap grow past what a
    # shared 15 GB host holds next to the Python workers
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # a heap of fixed size, young generation and old-generation
    # collection threshold: with G1's adaptive heap, young-generation
    # and threshold sizing the JVM's peak RSS moved by up to 1 GB
    # between runs of the same work, so peak_rss_mb read the collector's
    # choices rather than the engine's
    gc = f"-Xms{mem} -Xmn1g -XX:-G1UseAdaptiveIHOP"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} {gc}"]
    # b01's bucketed tables are managed tables, dropped at exit through
    # a session that is stopped by then, so they would pile up in a
    # shared warehouse from run to run; each run gets an empty one
    args += ["--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
    if trace:
        from tracing import event_log_confs

        log_dir = os.path.join(CACHE, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        args += event_log_confs(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def setup_session(with_views: bool) -> tuple:
    """The set-up a fresh process pays before its first operation: the
    engine and contract imports, the session, then the ``aw3d30`` data
    source and, for a workload with queries, the table views. Returns
    the session and its timings; ``setup_s`` counts from the start of
    the process."""
    import probes

    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401 - the queries come from the contract
    from aw3d30_parquet_spark.session import get_spark, register_views
    from aw3d30_parquet_spark.sources import datasource

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    if with_views:
        register_views(spark, SF_DIR)
    datasource.register(spark)
    return spark, {
        "setup_s": probes.process_age_s(),
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "register_views_s": time.perf_counter() - t2,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from pyspark import SparkContext

    import probes

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may be gone already
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 10
    while len(probes.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in probes.tree_pids()[1:]:
        try:
            os.kill(int(pid), 9)
        except OSError:
            pass


class Runner:
    """Dispatches passes of operations and keeps every record. An
    operation that raises is counted as failed; the run goes on."""

    def __init__(self, spark, tracer, trace: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.trace = trace
        self.attempted = 0
        self.failures: list[dict] = []
        #: (pass tag, op name) -> value its execute returned
        self.results: dict = {}

    def run_pass(self, ops, tag: str) -> dict:
        import probes
        from aw3d30_parquet_spark import scratch

        sc = self.spark.sparkContext
        ev0 = scratch.eviction_stats()
        cpu0 = probes.tree_cpu_s()
        recs = []
        t_pass = time.perf_counter()
        with self.tracer.span("pass", tag=tag):
            for op in ops:
                if self.trace:
                    sc.setJobGroup(f"{tag}|{op.name}", op.name)
                rec = {"op": op.name, "module": op.module, "build": 0.0, "exec": 0.0}
                self.attempted += 1
                with self.tracer.span(op.name, module=op.module):
                    t0 = time.perf_counter()
                    try:
                        with self.tracer.span("build"):
                            res = op.build()
                        t1 = time.perf_counter()
                        rec["build"] = t1 - t0
                        with self.tracer.span("exec"):
                            out = op.execute(res)
                        rec["exec"] = time.perf_counter() - t1
                        if out is not None:
                            self.results[(tag, op.name)] = out
                    except Exception as e:  # noqa: BLE001 - counted, run goes on
                        rec["error"] = f"{type(e).__name__}: {e}"[:500]
                        self.failures.append({"op": op.name, "pass": tag, "error": rec["error"]})
                        log(f"{tag} {op.name} failed: {rec['error']}")
                recs.append(rec)
        wall = time.perf_counter() - t_pass
        ev1 = scratch.eviction_stats()
        if self.trace:
            sc.setJobGroup("perfbench|idle", "idle")
        return {
            "tag": tag,
            "wall": wall,
            "cpu": probes.tree_cpu_s() - cpu0,
            "ops": recs,
            "dispatches": ev1["dispatches"] - ev0["dispatches"],
            "evictions": sum(ev1[k] - ev0[k] for k in ev1 if k != "dispatches"),
        }

    def check(self, name: str, fn) -> None:
        """Run one output check; an exception or a reason is a failure."""
        self.attempted += 1
        try:
            reason = fn()
        except Exception as e:  # noqa: BLE001
            reason = f"{type(e).__name__}: {e}"[:500]
        if reason:
            self.failures.append({"op": name, "pass": "check", "error": reason})
            log(f"check {name} failed: {reason}")


def ok_ops(passes):
    """Records of the operations in ``passes`` that did not fail."""
    return [o for p in passes for o in p["ops"] if "error" not in o]


def timed_passes(runner, make_ops, seconds: float, min_steady: int) -> tuple[dict, list[dict]]:
    """The cold pass, then steady passes until they have lasted
    ``seconds``, and at least ``min_steady`` of them."""
    first = runner.run_pass(make_ops(0), "p0")
    steady = []
    t0 = time.perf_counter()
    while len(steady) < min_steady or time.perf_counter() - t0 < seconds:
        steady.append(runner.run_pass(make_ops(len(steady) + 1), f"p{len(steady) + 1}"))
    return first, steady


def pass_factory(spark, queries, order, tif_dir, work_dir: str):
    """``make_ops(i)`` for pass ``i``, and the list of the ingest output
    tree pairs. Every query pass collects its results, so each can be
    checked. Ingest passes write fresh directories; the previous pass's
    are removed first, outside the timed region."""
    import workloads as wl

    outs: list[tuple[str, str]] = []

    def make_ops(i: int):
        if not tif_dir:
            return wl.query_ops(spark, queries, order, SF_DIR)
        for d in outs[-1] if outs else ():
            shutil.rmtree(d, ignore_errors=True)
        outs.append((os.path.join(work_dir, f"read_{i}"), os.path.join(work_dir, f"ds_{i}")))
        return wl.ingest_ops(spark, tif_dir, *outs[-1])

    return make_ops, outs


#: the two ingest read paths, in the order of their output trees
LABELS = ("read_tiles", "format_aw3d30")


def check_ingest(runner, tif_dir, inside, size, outs) -> dict:
    """Compare both output trees with direct decodes of the tile bytes;
    returns the per-tile median decode and flatten seconds."""
    import checks
    from aw3d30_parquet_spark.sources.geotiff import tile_key

    direct, decode_s, flatten_s = {}, [], []
    for lat, lon in inside:
        sums, d, f = checks.direct_tile_sums(
            os.path.join(tif_dir, f"{tile_key(lat, lon)}.tif")
        )
        direct[(lat, lon)] = sums
        decode_s.append(d)
        flatten_s.append(f)
    got = {}

    def one(label, out):
        sums = got[label] = checks.written_tile_sums(out, size)
        extra = sorted(set(sums) - set(direct))
        if extra:
            return f"unexpected tiles {extra}"
        for t, want in direct.items():
            bad = checks.tile_mismatch(want, sums.get(t))
            if bad:
                return f"tile {t}: {bad}"
        return None

    for label, out in zip(LABELS, outs):
        runner.check(f"{label}_output", lambda label=label, out=out: one(label, out))
    def exact(sums):
        return {t: [v[k] for k in checks.EXACT_SUMS + ("row_hash",)] for t, v in sums.items()}

    runner.check(
        "read_paths_identical",
        lambda: None
        if len(got) == 2 and exact(got[LABELS[0]]) == exact(got[LABELS[1]])
        else "the two read paths wrote different rows",
    )
    return {"decode_s": median(decode_s), "flatten_s": median(flatten_s)}


def check_queries(runner, passes, oracles: dict[str, str]) -> None:
    """Check every collected query result of ``passes`` (untimed): a
    mismatch marks that dispatch failed."""
    import checks
    import workloads as wl
    from aw3d30_parquet_spark.oracle import canonical_hash

    names = sorted({o["op"] for p in passes for o in p["ops"]})
    want = checks.oracle_hashes(SF_DIR, oracles, names)
    cold_hash: dict[str, str] = {}
    for p in passes:
        for o in p["ops"]:
            res = runner.results.pop((p["tag"], o["op"]), None)
            if res is None:
                continue  # raised; already counted as failed
            frame, dtypes = res
            try:
                got = canonical_hash(frame)
                reason = checks.check_query(
                    frame, dtypes, got, want.get(o["op"]),
                    wl.ROWS_ONLY.get(o["op"]), cold_hash.setdefault(o["op"], got),
                )
            except Exception as e:  # noqa: BLE001
                reason = f"{type(e).__name__}: {e}"[:500]
            if reason:
                o["error"] = reason
                runner.failures.append({"op": o["op"], "pass": p["tag"], "error": reason})
                log(f"check {p['tag']} {o['op']} failed: {reason}")


def op_best(passes) -> dict[str, float]:
    """Least build + exec seconds of each operation over ``passes``,
    counting only dispatches that neither raised nor failed a check."""
    by_op: dict[str, list] = {}
    for o in ok_ops(passes):
        by_op.setdefault(o["op"], []).append(o["build"] + o["exec"])
    return {k: min(v) for k, v in by_op.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "aw3d30_parquet_spark"))
    ):
        log(f"no engine next to {HERE}: needs aw3d30_parquet_spark/ and __spark_entry__.py")
        return 2
    if not os.path.isdir(SF_DIR):
        log(f"missing input tables {SF_DIR}")
        return 2

    sys.path.insert(0, HERE)
    trace = bool(args.trace)
    prepare_env(trace)

    import probes
    import workloads as wl
    from tracing import Tracer

    spec = wl.WORKLOADS[args.workload]
    tracer = Tracer(trace)
    host0 = probes.host_snapshot()
    with probes.RssSampler() as rss:
        # ---- set-up: the first thing the process does ----------------
        with tracer.span("setup"):
            spark, setup = setup_session(bool(spec["queries"]))
        log(f"set-up {json.dumps({k: round(v, 2) for k, v in setup.items()})}")

        import __spark_entry__ as contract
        import tiles
        from aw3d30_parquet_spark import scratch
        from tracing import job_group_totals

        run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        runs_dir = os.path.join(CACHE, "runs")
        work_dir = os.path.join(CACHE, "work", run_id)
        os.makedirs(runs_dir, exist_ok=True)
        shutil.rmtree(work_dir, ignore_errors=True)
        os.makedirs(work_dir)

        # ---- inputs (untimed) -----------------------------------------
        order = wl.query_order(spec["queries"], args.seed)
        tif_dir, tile_rows = None, 0
        if spec["tiles"]:
            n_in, n_out, size = spec["tiles"]
            inside, outside = wl.tile_coords(args.seed, n_in, n_out)
            tif_dir = tiles.ensure_tiles(CACHE, args.seed, inside, outside, size)
            tile_rows = n_in * size * size
        record: dict = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
            "setup": setup, "order": order,
        }
        if tif_dir:
            record["tiles"] = {"dir": tif_dir, "inside": inside, "outside": outside, "size": size}

        runner = Runner(spark, tracer, trace)
        queries = contract.queries() if order else {}
        make_ops, outs = pass_factory(spark, queries, order, tif_dir, work_dir)
        first, steady = timed_passes(runner, make_ops, args.seconds, spec["steady"])
        resident_keys = sum(len(v) for v in scratch.resident().values())
        log(f"passes {[round(p['wall'], 2) for p in [first] + steady]}")
    record["passes"] = [first] + steady

    # ---- checks (untimed) ---------------------------------------------
    if order:
        check_queries(runner, [first] + steady, contract.oracle_sql())
    ingest: dict = {}
    if tif_dir:
        from aw3d30_parquet_spark.sources.sink import existing_tiles

        ingest = check_ingest(runner, tif_dir, inside, size, outs[-1])
        listing_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            kept = existing_tiles(outs[-1][0], spark)
            listing_s.append(time.perf_counter() - t0)
        op_s = op_best(steady)

        def rows_per_s(op):
            t = op_s.get(op)
            return tile_rows / t if t else 0.0

        ingest.update(
            tiles_kept=len(kept),
            existing_tiles_s=median(listing_s),
            ingest_rows_per_s=rows_per_s("read_tiles"),
            ds_ingest_rows_per_s=rows_per_s("format_aw3d30"),
            rerun_s=op_s.get("ingest_rerun", 0.0),
            parquet_bytes_per_row=wl.parquet_bytes(outs[-1][0]) / tile_rows,
        )
        record["ingest"] = ingest

    app_id = spark.sparkContext.applicationId
    log("checks done; stopping")
    stop_spark(spark)
    shutil.rmtree(os.path.join(CACHE, "tmp"), ignore_errors=True)
    record["host"] = probes.host_noise(host0, probes.host_snapshot())
    record["failures"] = runner.failures
    log(f"host {json.dumps(record['host'])}")

    # ---- metrics ------------------------------------------------------
    # Steady figures are the best of the steady passes: pass times keep
    # falling from pass to pass (JIT), and a stall on the shared host
    # only ever adds time, so the fastest pass is both the most settled
    # and the least disturbed. Per-operation latency: the percentiles
    # of the operations' best steady times (a query each; on ingest,
    # the three ingest operations).
    lat = list(op_best(steady).values())
    pass_s = min(p["wall"] for p in steady)
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "first_pass_s": (first["wall"], "s"),
        "pass_s": (pass_s, "s"),
        "query_p50_s": (percentile(lat, 50), "s"),
        "query_p90_s": (percentile(lat, 90), "s"),
        "cpu_s": (min(p["cpu"] for p in steady), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    record["end_to_end"] = {k: v for k, (v, _u) in metrics.items()}
    record["query_samples"] = len(ok_ops(steady))
    if trace:
        metrics = per_layer_metrics(
            record, first, steady,
            job_group_totals(os.path.join(CACHE, "eventlog"), app_id),
            ingest, resident_keys,
        )
        record["per_layer"] = {k: v for k, (v, _u) in metrics.items()}
        record["trace_overhead_s"] = trace_overhead(runs_dir, record, pass_s)
        tracer.write(os.path.join(runs_dir, f"{run_id}-spans.json"))
    with open(os.path.join(runs_dir, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "correct": not runner.failures,
                "attempted": runner.attempted,
                "failed": len(runner.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def trace_overhead(runs_dir: str, record: dict, pass_s: float) -> float | None:
    """Traced minus untraced ``pass_s`` when the untraced run of the same
    workload and seed left its record in this checkout, else None."""
    path = os.path.join(runs_dir, f"{record['workload']}-seed{record['seed']}-trace0.json")
    try:
        with open(path) as fh:
            base = json.load(fh)["end_to_end"]["pass_s"]
    except (OSError, KeyError, ValueError):
        log("tracing overhead: no untraced run of this seed to compare with")
        return None
    log(f"tracing overhead: pass_s {pass_s:.3f} traced vs {base:.3f} untraced")
    return pass_s - base


#: ingest metrics of the traced run, (name, key in the ingest record, unit)
INGEST_METRICS = (
    ("ingest_rows_per_s", "ingest_rows_per_s", "rows/s"),
    ("ds_ingest_rows_per_s", "ds_ingest_rows_per_s", "rows/s"),
    ("rerun_s", "rerun_s", "s"),
    ("parquet_bytes_per_row", "parquet_bytes_per_row", "B/row"),
    ("sources.geotiff.tiles_kept", "tiles_kept", "count"),
    ("sources.tiff.decode_s", "decode_s", "s"),
    ("sources.tiff.flatten_s", "flatten_s", "s"),
    ("sources.sink.existing_tiles_s", "existing_tiles_s", "s"),
)


def per_layer_metrics(record, first, steady, groups, ingest, resident_keys) -> dict:
    """Per-layer metrics of a traced run, each a (value, unit) pair;
    0 where the workload does not exercise the layer.

    Module metrics come from the fastest steady pass, the one that sets
    ``pass_s``, so the modules' build_s + exec_s add up to it. Spark-side
    numbers come from the event log by job group."""
    from workloads import MODULES

    units = {
        "build_s": "s", "exec_s": "s", "tasks": "count", "shuffle_write_bytes": "B",
        "spill_bytes": "B", "python_bytes": "B", "executor_cpu_s": "s",
    }
    per_mod = {m: dict.fromkeys(units, 0.0) for m in MODULES}
    fastest = min(steady, key=lambda p: p["wall"])
    for o in fastest["ops"]:
        acc = per_mod.setdefault(o["module"], dict.fromkeys(units, 0.0))
        acc["build_s"] += o["build"]
        acc["exec_s"] += o["exec"]
        g = groups.get(f"{fastest['tag']}|{o['op']}", {})
        for k in list(units)[2:]:
            acc[k] += g.get(k, 0)

    setup = record["setup"]
    out: dict = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "session.register_views_s": (setup["register_views_s"], "s"),
    }
    for m in MODULES:
        for k, u in units.items():
            out[f"{m}.{k}"] = (per_mod[m][k], u)
    for name, key, unit in INGEST_METRICS:
        out[name] = (ingest.get(key, 0), unit)

    steady_s = op_best(steady)
    out["scratch.memo_build_s"] = (
        sum(o["build"] + o["exec"] - steady_s[o["op"]]
            for o in first["ops"] if "error" not in o and o["op"] in steady_s),
        "s",
    )
    out["scratch.evictions"] = (median([p["evictions"] for p in steady]), "count")
    out["scratch.dispatches"] = (median([p["dispatches"] for p in steady]), "count")
    out["scratch.resident_keys"] = (resident_keys, "count")
    out["spark.failed_tasks"] = (sum(g["failed_tasks"] for g in groups.values()), "count")
    out["bench.query_samples"] = (record["query_samples"], "count")
    return out


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
