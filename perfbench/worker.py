"""One benchmark run in its own process (started by ``run.py``).

Usage: ``worker.py <workload> <seed> <seconds> <trace> <cache_dir> <work_dir>``.
Prints progress to stderr and, as the last stdout line, one JSON object
with ``correct``, ``attempted``, ``failed``, ``metrics`` and ``inputs``
(the input fingerprint; ``run.py`` moves it to its own line).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import hostnoise  # noqa: E402
import workloads as W  # noqa: E402
from tracing import Tracer  # noqa: E402

# Bounds the JVM heap on a shared host; every other session setting is the
# package default.
DRIVER_MEMORY = "4g"

def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _module_file(_batches):
    import pandas as pd

    import logminer_kafka_connect_spark as pkg

    yield pd.DataFrame({"f": [pkg.__file__]})


def assert_checkout(spark) -> None:
    """The package must be imported from this checkout, in the driver and in
    the Python UDF workers alike."""
    import logminer_kafka_connect_spark as pkg

    root = os.path.realpath(ROOT) + os.sep
    files = {"driver": pkg.__file__}
    rows = spark.range(1).mapInPandas(_module_file, "f string").collect()
    files["mapInPandas worker"] = rows[0]["f"]
    for who, f in files.items():
        if not os.path.realpath(f).startswith(root):
            raise RuntimeError(f"{who} imports the package from {f}, outside {root}")


def e2e_metrics(out: dict, setup_s: float, n_changes: int) -> dict[str, float]:
    batch, lookup = out["batch_s"], out["lookup_s"]
    return {
        "setup_s": setup_s,
        "catchup_s": statistics.median(out["catchup_s"]),
        "events_per_s": n_changes / statistics.median(out["apply_s"]),
        "batch_latency_p50_s": statistics.median(batch),
        "batch_latency_p75_s": W.q75(batch),
        "lookup_latency_p50_s": statistics.median(lookup),
        "lookup_latency_p75_s": W.q75(lookup),
    }


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def layer_metrics(tr: Tracer, wl, decomposed: dict, window: dict, session_s: float,
                  overhead: float, n_changes: int) -> dict[str, float]:
    """Per-layer figures from the spans and the status store: per-batch
    medians for per-batch quantities, run totals for counts."""
    m: dict[str, float] = {}
    batches = tr.batches()
    jobs_pb, idle_pb, self_pb, merge_jobs, merge_mb_w, write_amp = [], [], [], [], [], []
    wm_wait, seen, overlaps = [], set(), 0
    for b in batches:
        kids = tr.children(b)
        same = sorted((k for k in kids if k.thread == b.thread), key=lambda k: k.start)
        covered = sum(k.dur for k in same)
        # same-thread children run one after another, so child spans plus
        # self time add up to the batch wall exactly
        overlaps += any(a.end > c.start + 1e-6 for a, c in zip(same, same[1:]))
        self_pb.append(b.dur - covered)
        jobs = tr.jobs_in(b.start, b.end)
        jobs_pb.append(len(jobs))
        ivs = sorted((max(j.submit, b.start), min(j.end, b.end)) for j in jobs)
        active, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    active += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            active += cur_e - cur_s
        idle_pb.append(max(0.0, 1.0 - active / max(1e-9, b.dur)))
        merges = [k for k in same if k.name == "merge"]
        for mg in merges:
            mj = tr.jobs_in(mg.start, mg.end)
            merge_jobs.append(len(mj))
            tot = tr.store.job_totals(mj, seen)
            merge_mb_w.append(tot.output_b / 1e6)
            rows = mg.attrs.get("rows") or 0
            if rows > 0:
                write_amp.append(tot.output_rows / rows)
        wms = [k for k in kids if k.name == "watermark"]
        if wms and merges:
            wm_wait.append(max(0.0, min(wms[0].end, b.end) - merges[-1].end))
    if overlaps:
        wl.check(False, f"{overlaps} batches have overlapping same-thread child spans")
    m["driver.jobs_per_batch"] = _med(jobs_pb)
    m["driver.idle_frac"] = _med(idle_pb)
    m["driver.self_s"] = _med(self_pb)
    m["driver.plan_s"] = _med(s.dur for s in tr.named("driver.plan"))
    m["driver.outside_batches_s"] = wl.outside_batches_s(tr)
    m["consolidate.task_s"] = decomposed.get("consolidate.task_s", 0.0)
    m["consolidate.watermark_s"] = _med(s.dur for s in tr.named("watermark"))
    m["consolidate.watermark_wait_s"] = _med(wm_wait)
    parse_rows = decomposed.get("parse.rows", 0.0)
    m["parse.task_s"] = decomposed.get("parse.task_s", 0.0)
    m["parse.us_per_stmt"] = 1e6 * m["parse.task_s"] / parse_rows if parse_rows else 0.0
    slots = [tr.captured.get(b.batch, {}) for b in batches]
    m["parse.fused_attempts"] = float(sum(1 for s in slots if s.get("raw_chunks")))
    m["parse.fused_fallbacks"] = float(sum(1 for s in slots if s.get("fallback")))
    m["parse.plan_nodes"] = decomposed.get("parse.plan_nodes", 0.0)
    m["fold.task_s"] = decomposed.get("fold.task_s", 0.0)
    m["fold.shuffle_write_mb"] = decomposed.get("fold.shuffle_write_b", 0) / 1e6
    m["fold.hot_keys"] = float(max((W.hot_keys(s.get("salt")) for s in slots), default=0))
    merges_all = [s for s in tr.named("merge") if s.attrs.get("applied")]
    net_rows = sum(max(0, s.attrs.get("rows") or 0) for s in merges_all if s.batch)
    m["fold.net_rows_per_event"] = net_rows / max(1, wl.changes_applied(n_changes))
    m["merge.s"] = _med(s.dur for s in merges_all if s.batch)
    m["merge.jobs"] = _med(merge_jobs)
    dec_batch = decomposed.get("batch")
    dec_merge = [s for s in merges_all if s.batch == dec_batch]
    if dec_merge:
        tot = tr.store.job_totals(tr.jobs_in(dec_merge[0].start, dec_merge[0].end), set())
        own = tot.shuffle_write_b - decomposed.get("fold.shuffle_write_b", 0) - decomposed.get(
            "consolidate.shuffle_write_b", 0) - decomposed.get("parse.shuffle_write_b", 0)
        m["merge.shuffle_write_mb"] = max(0, own) / 1e6
    else:
        m["merge.shuffle_write_mb"] = 0.0
    m["merge.buckets_rewritten"] = _med(s.attrs.get("buckets", 0) for s in merges_all if s.batch)
    m["merge.mb_written"] = _med(merge_mb_w)
    m["merge.write_amp"] = _med(write_amp)
    compacts = tr.named("compact")
    m["compact.s"] = _med(s.dur for s in compacts)
    m["compact.count"] = float(len(compacts))
    lookups = tr.named("lookup")
    m["lookup.files_opened"] = _med(s.attrs.get("files", 0) for s in lookups)
    m["lookup.delta_depth"] = _med(s.attrs.get("delta_depth", 0) for s in lookups)
    m["table.space_amp"] = space_amp(wl.engine.table)
    m["lineage.record_s"] = _med(s.dur for s in tr.named("lineage") if s.batch)
    snaps = [s for s in tr.named("snapshot")]
    m["snapshot.load_s"] = _med(s.dur for s in snaps)
    rows = wl.inp.fingerprint["snapshot_rows"]
    m["snapshot.rows_per_s"] = rows / m["snapshot.load_s"] if m["snapshot.load_s"] else 0.0
    m["session.start_s"] = session_s
    m["proc.tree_cpu_s"] = window["tree_cpu_s"]
    m["proc.occupancy"] = window["occupancy"]
    m["proc.steal_frac"] = window["steal_frac"]
    m["proc.peak_rss_mb"] = hostnoise.tree_peak_rss_mb()
    m["trace.overhead_frac"] = overhead
    attempted = max(1, wl.out["attempted"])
    m["failed_op_share"] = wl.out["failed"] / attempted
    return m


def space_amp(table) -> float:
    """Bytes under the table's data directory over bytes the current
    manifest references (1.0 = no garbage from superseded versions)."""
    meta = table.metadata()
    live_dirs = [p for ps in meta["buckets"].values() for p in ps]
    live_dirs += [p for ps in meta.get("deltas", {}).values() for p in ps]

    def size(path: str) -> int:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    live = sum(size(p) for p in live_dirs)
    total = size(table._data_dir)
    return total / live if live else 0.0


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace = argv[1], int(argv[2]), float(argv[3]), argv[4] == "1"
    cache_dir, work_dir = argv[5], argv[6]
    units = metric_units()

    from logminer_kafka_connect_spark.session import get_spark

    n_cpu = len(os.sched_getaffinity(0))
    spark = get_spark(
        master=f"local[{n_cpu}]", shuffle_partitions=n_cpu, driver_memory=DRIVER_MEMORY,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - T_PROCESS
    log(f"session ready ({session_s:.2f}s), local[{n_cpu}]")
    assert_checkout(spark)
    inputs = W.Inputs(spark, cache_dir)
    wl = W.WORKLOADS[workload](spark, inputs, work_dir, seconds)
    try:
        wl.warm()
        tracer = probe = None
        if trace:
            tracer = Tracer(spark)
            tracer.install()
            wl.seconds, wl.min_reps = 0, 1  # one unit of work; no e2e metric
        t_open = time.time()
        wl.open()
        # process start to the first engine open, plus the median open
        setup_s = (t_open - T_PROCESS) + statistics.median(wl.out["open_s"])
        log(f"setup done: warm {wl.out['warm_s']:.2f}s, open {wl.out['open_s']}")
        if not trace:
            probe = W.LatencyProbe()
            if wl.lookups_between_batches:
                probe.after_batch = wl.between_batches
            probe.install()
            wl.probe = probe
        window = hostnoise.HostWindow()
        window.start(time.time())
        try:
            wl.run()
        finally:
            (tracer or probe).uninstall()
        host = window.stop(time.time())
        decomposed = {}
        if tracer is not None:
            bid = wl.decompose_batch(tracer)
            decomposed = tracer.decompose(bid)
            decomposed["batch"] = bid
        salts = probe.salts if probe else [s.get("salt") for s in tracer.captured.values()]
        wl.verify(max((W.hot_keys(s) for s in salts), default=0))
        if trace:
            overhead = wl.trace_overhead(tracer)
            metrics = layer_metrics(tracer, wl, decomposed, host, session_s, overhead,
                                    inputs.n_changes)
        else:
            metrics = e2e_metrics(wl.out, setup_s, inputs.n_changes)
            wl.record_untraced(host)
            log(f"host during the run: {json.dumps(host)}")
        log(f"run done: {json.dumps({k: v for k, v in wl.out.items() if k != 'errors'})}")
        for e in wl.out["errors"]:
            log(f"FAILED {e}")
    finally:
        wl.close()
        spark.stop()
        log("spark stopped")
    result = {
        "correct": wl.out["failed"] == 0,
        "attempted": wl.out["attempted"],
        "failed": wl.out["failed"],
        "metrics": {
            k: {"value": float(v), "unit": units[k]}
            for k, v in metrics.items()
        },
        "inputs": inputs.fingerprint,
    }
    print(json.dumps(result), flush=True)
    return 0


def metric_units() -> dict[str, str]:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv))
