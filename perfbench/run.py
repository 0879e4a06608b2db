#!/usr/bin/env python3
"""croco-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload er_short --seed 7 --seconds 15 --trace 0

Run from the repository root. Starts one Spark session on
local[<cores>], builds the workload's inputs from the seed, sets up and
warms up untimed, then repeats the workload's operation until ``--seconds``
have passed (and at least the workload's minimum count), checking every
operation's output. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics from a traced run with ``--trace 1``.
Lines above it are the human-readable report and the full run record.
Everything the run writes goes under ``.perfbench_work/`` in the checkout,
which is removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SPARK_SPANS = (
    "normalize_stage.normalize_pages",
    "blocking.mention_signatures",
    "blocking.pairs_from_signatures",
    "scoring.score",
    "clustering.cluster_records",
    "streaming.process_batch",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_pairs",
    "dedup.embedding_near_dup_pairs",
    "similarity_search.lsh_topk",
)
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("records_per_s", "records/s"),
    ("storage_peak_mb", "MB"),
)
GEN_REPEATS = 3


def per_layer_metrics():
    from ledger import SPAN_METRICS

    out = [(f"{s}.{m}", u) for s in SPARK_SPANS for m, u in SPAN_METRICS]
    return out + [
        ("session.get_spark.wall_s", "s"),
        ("datagen.make_corpus.wall_s", "s"),
        ("scoring.score.edge_yield", "ratio"),
        ("trace.overhead_s", "s"),
        ("trace.unattributed_s", "s"),
    ]


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine_to_checkout(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    ``work`` (set before the JVM starts)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):  # launcher JVM, driver JVM
        os.environ[var] = f"{os.environ.get(var, '')} {opts}"


def import_engine():
    """Import the checkout's own ``crocodile_spark``, never another copy."""
    sys.path.insert(0, ROOT)
    try:
        import crocodile_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import crocodile_spark from {ROOT}: {e}")
    if not os.path.abspath(crocodile_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: crocodile_spark resolved outside {ROOT}")
    return crocodile_spark


def source_stamp(pkg) -> dict:
    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(pkg_dir)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".json")):
                path = os.path.join(base, f)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def release_new_blocks(sc, keep: set) -> None:
    """Drop the blocks an operation left cached or checkpointed, so the
    next operation starts from the same storage baseline."""
    for rid, rdd in sc._jsc.getPersistentRDDs().items():
        if rid not in keep:
            rdd.unpersist(True)
    gc.collect()
    sc._jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def median(xs):
    return statistics.median(xs) if xs else None


def run(args) -> tuple[dict, dict]:
    """Returns (result line, run record)."""
    load_start = os.getloadavg()[0]
    pkg = import_engine()
    import pyspark

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.session import get_spark
    from ledger import Ledger, StoragePoller, valid_metric_name
    from workloads import WARM_ENTITIES, WORKLOADS, OpResult, corpus_digest, make_inputs

    nproc = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(
        app_name="croco-perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc
    )
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    try:
        cfg = PipelineConfig(shuffle_partitions=nproc)
        wl = WORKLOADS[args.workload](spark, cfg, args.seed, WORK)

        gen_s, digests = [], set()
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            corpus = make_inputs(args.workload, args.seed)
            gen_s.append(time.perf_counter() - t)
            digests.add(corpus_digest(corpus))
        t = time.perf_counter()
        wl.load(corpus)
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.bootstrap()
        boot_s = time.perf_counter() - t
        quiet, traced = Ledger(spark, enabled=False), Ledger(spark, enabled=bool(args.trace))
        inputs = set(sc._jsc.getPersistentRDDs().keys())
        t = time.perf_counter()
        wl.warm(quiet, make_inputs(args.workload, args.seed, n_entities=WARM_ENTITIES))
        warm_s = time.perf_counter() - t
        setup = {
            "session_s": session_s, "datagen_median_s": median(gen_s),
            "datagen_repeats": GEN_REPEATS, "load_s": load_s,
            "bootstrap_s": boot_s, "warmup_s": warm_s,
        }
        setup_s = session_s + median(gen_s) + load_s + boot_s + warm_s
        release_new_blocks(sc, inputs)

        ops, extras = [], []
        attempted = failed = 0
        t_loop = time.perf_counter()
        i = 0
        min_ops = 2 if args.trace else wl.min_ops
        while i < wl.max_ops and (
            i < min_ops or time.perf_counter() - t_loop < args.seconds
        ):
            is_traced = bool(args.trace) and i % 2 == 1
            led = traced if is_traced else quiet
            keep = set(sc._jsc.getPersistentRDDs().keys())
            attempted += 1
            try:
                with StoragePoller(sc) as poll:
                    t = time.perf_counter()
                    handle = wl.op(i, led)
                    wall = time.perf_counter() - t
                res = wl.check(i, handle)
                if is_traced:
                    traced.collect()
                    extras.append(wl.layer_extras())
            except Exception:
                traceback.print_exc()
                failed += 1
            else:
                failed += not res.ok
                ops.append({
                    "op": i, "traced": is_traced, "wall_s": wall, "records": res.records,
                    "pairs": res.pairs, "storage_peak_mb": poll.peak_mb,
                    "ok": res.ok, **res.details,
                })
            finally:
                release_new_blocks(sc, keep)
            i += 1

        try:
            final = wl.final()
        except Exception:
            traceback.print_exc()
            final = OpResult(records=0, ok=False)
        if final is not None:
            attempted += 1
            failed += not final.ok
        probe = None
        if args.trace:
            try:
                probe = wl.probe(traced)
                traced.collect()
            except Exception:
                traceback.print_exc()
                probe = OpResult(records=0, ok=False)
        if probe is not None:
            attempted += 1
            failed += not probe.ok
        correct = failed == 0 and len(digests) == 1
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "nproc": nproc, "pyspark": pyspark.__version__,
            **source_stamp(pkg), "load1_start": load_start,
            "status_source": traced.source, "setup": setup,
            "inputs_deterministic": len(digests) == 1, "ops": ops,
            "final": None if final is None else {"ok": final.ok, **final.details},
            "probe": None if probe is None else {"ok": probe.ok, **probe.details},
            "attempted": attempted, "failed": failed,
        }
        plain = [o for o in ops if not o["traced"]]
        if not plain:
            raise RuntimeError("no operation completed")
        e2e = {
            "setup_s": setup_s,
            "wall_s": median([o["wall_s"] for o in plain]),
            "records_per_s": median([o["records"] / o["wall_s"] for o in plain]),
            "storage_peak_mb": median([o["storage_peak_mb"] for o in plain]),
        }
        record["end_to_end"] = e2e
        if args.trace:
            record["per_layer"] = layer_metrics(traced, ops, extras, session_s, gen_s)
            record["spans"] = [
                {"name": s.name, "start": s.start, "end": s.end, **s.stats}
                for s in traced.spans
            ]
        units = dict(END_TO_END) if not args.trace else dict(per_layer_metrics())
        values = e2e if not args.trace else record["per_layer"]
        bad = [k for k in units if not valid_metric_name(k)]
        if bad:
            raise ValueError(f"metric names outside [A-Za-z0-9_.-]: {bad}")
        result = {
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        return result, record
    finally:
        stop_spark(spark)


def layer_metrics(led, ops, extras, session_s, gen_s) -> dict:
    """Per-layer medians over the traced operations; spans a workload never
    enters report 0."""
    from ledger import SPAN_METRICS, self_time

    out = {}
    for span in SPARK_SPANS:
        done = [s.stats for s in led.spans if s.name == span]
        for m, _unit in SPAN_METRICS:
            out[f"{span}.{m}"] = median([d.get(m, 0) for d in done]) if done else 0
    out["session.get_spark.wall_s"] = session_s
    out["datagen.make_corpus.wall_s"] = median(gen_s)
    out["scoring.score.edge_yield"] = median(
        [e["scoring.score.edge_yield"] for e in extras if e]
    ) or 0
    plain = [o["wall_s"] for o in ops if not o["traced"]]
    trace = [o["wall_s"] for o in ops if o["traced"]]
    out["trace.overhead_s"] = median(trace) - median(plain) if trace and plain else 0
    glue = [self_time(s, led.spans) for s in led.spans if s.name == "op"]
    out["trace.unattributed_s"] = median(glue) if glue else 0
    return out


def report(result: dict, record: dict) -> None:
    ops = [o for o in record["ops"] if not o["traced"]]
    print(f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"nproc={record['nproc']} pyspark={record['pyspark']} "
          f"git={record['git_sha']} src={record['source_sha256'][:12]} "
          f"load1={record['load1_start']:.2f}->{record['load1_end']:.2f} "
          f"status={record['status_source']}")
    s = record["setup"]
    print(f"  setup: session {s['session_s']:.2f} s, datagen {s['datagen_median_s']:.3f} s "
          f"(median of {s['datagen_repeats']}), load {s['load_s']:.2f} s, "
          f"bootstrap {s['bootstrap_s']:.2f} s, warm-up {s['warmup_s']:.2f} s; "
          f"inputs deterministic: {record['inputs_deterministic']}")
    n = f"median of {len(ops)} ops"
    e2e = record["end_to_end"]
    rows = [("setup_s", e2e["setup_s"], "s", "one set-up")]
    rows += [(k, e2e[k], dict(END_TO_END)[k], n) for k in ("wall_s", "records_per_s", "storage_peak_mb")]
    if any(o["pairs"] for o in ops):
        rows.append(("pairs_per_s", median([o["pairs"] / o["wall_s"] for o in ops]), "pairs/s", n))
    if record["workload"] == "er_stream":
        rows.append(("batch_p50_s", e2e["wall_s"], "s", n))
    for key in ("f1", "dup_recall"):
        vals = [o[key] for o in ops if key in o]
        if record["final"] and key in record["final"]:
            vals = [record["final"][key]]
        if vals:
            rows.append((key, min(vals), "ratio", "worst op"))
    rows.append(("ops_failed_frac", record["failed"] / record["attempted"], "ratio",
                 f"{record['failed']} of {record['attempted']}"))
    for k, v, u, how in rows:
        print(f"  {k:<16} {v:>14.4f} {u:<10} ({how})")
    if record["final"]:
        print(f"  final check: {record['final']}")
    if record["probe"]:
        print(f"  probe check: {record['probe']}")
    if record["trace"]:
        for k, v in record["per_layer"].items():
            if v:
                print(f"  {k:<52} {v:>16.4f}")
    print("run-record " + json.dumps(record, default=str))


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    confine_to_checkout(WORK)
    try:
        result, record = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    record["load1_end"] = os.getloadavg()[0]
    report(result, record)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
