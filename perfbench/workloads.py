"""The three benchmark workloads, each driven through the package's own API.

Load comes from one client in a closed loop: the next batch, append or
lookup starts only after the previous one returned.

- ``bulk_catchup``: initial snapshot, then the whole html-heavy, hot-url
  skewed backlog through ``CdcEngine.replay`` in three copy-on-write
  batches, into a fresh table per repetition.
- ``trickle_cow``: a uniform-key log through ``CdcEngine.from_properties``
  and ``run_from_config`` with the reference's default ``batch.size``
  (1000 rows per commit-SCN batch) into a copy-on-write table much larger
  than one batch.
- ``serve_mor``: a merge-on-read table compacted every third batch, fed by
  the Structured Streaming front end (``run_streaming`` with a
  processing-time trigger). Each step appends one SCN-ordered log file,
  waits in ``processAllAvailable()`` and then does one ``read_for_keys``
  point lookup.

``bulk_catchup`` and ``trickle_cow`` also time point lookups, so every
end-to-end metric exists on every workload: on untraced runs the client
does ``LOOKUPS_PER_BATCH`` lookups after each batch returns (the
``serve_mor`` step pattern, and samples spread over the whole run instead
of one burst at its end), then ``LOOKUPS_AFTER_REPLAY`` on the final table.
Time spent in those between-batch lookups is taken out of the replay wall.
``BENCHMARK.json`` lists the first two; ``serve_mor`` is run by hand.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

BULK_BATCHES = 3
MOR_COMPACT_EVERY = 3
STREAM_POLL_MS = 100
LOOKUPS_AFTER_REPLAY = 6
LOOKUPS_PER_BATCH = 1
WARM_EVENT_ROWS = 1000

# The reference's connector properties; only batch.size matters here and it
# keeps its default (1000).
CONNECTOR_PROPERTIES = {
    "db.name": "bench", "db.sid": "BENCH", "db.hostname": "localhost",
    "db.port": "1521", "db.user": "bench", "db.user.password": "bench",
    "table.whitelist": "CRAWL.PAGES",
}


class Inputs:
    """One cached input set (see ``inputs.py``)."""

    def __init__(self, spark, cache_dir: str):
        from logminer_kafka_connect_spark.sources.events import EVENT_SCHEMA

        self.dir = cache_dir
        with open(os.path.join(cache_dir, "fingerprint.json")) as f:
            self.fingerprint = json.load(f)
        with open(os.path.join(cache_dir, "lookups.json")) as f:
            self.lookups = json.load(f)
        self.event_files = sorted(
            os.path.join(cache_dir, "events", n)
            for n in os.listdir(os.path.join(cache_dir, "events"))
        )
        self.spark = spark
        self.event_schema = EVENT_SCHEMA
        self.n_changes = self.fingerprint["change_statements"]

    def events(self, files: list[str] | None = None):
        return self.spark.read.schema(self.event_schema).parquet(*(files or self.event_files))

    def snapshot(self):
        from logminer_kafka_connect_spark.engine import PAGES_SCHEMA

        return self.spark.read.schema(PAGES_SCHEMA).parquet(os.path.join(self.dir, "snapshot"))

    def expected(self):
        import pandas as pd

        return pd.read_parquet(os.path.join(self.dir, "expected.parquet"))


class LatencyProbe:
    """Two clock reads around each batch call, plus the fold's salt
    argument: the batch latency a caller of the engine sees and the
    mechanism check, with no tracing. Installed on the untraced runs only
    (the tracer records the same boundaries on traced runs)."""

    def __init__(self):
        self.batches: list[tuple[str, float, float]] = []
        self.salts: list[object] = []
        self.after_batch = None  # called with no arguments after each batch
        self._restore = []

    def install(self) -> None:
        from logminer_kafka_connect_spark.streaming import driver as driver_mod

        probe = self

        def timed(orig):
            def wrapper(drv, *args, **kwargs):
                t0 = time.time()
                out = orig(drv, *args, **kwargs)
                if not out.get("skipped"):
                    probe.batches.append((out["batch_id"], t0, time.time()))
                    if probe.after_batch is not None:
                        probe.after_batch()
                return out

            return wrapper

        def salt(orig):
            def wrapper(*args, **kwargs):
                probe.salts.append(kwargs.get("salt_chunks"))
                return orig(*args, **kwargs)

            return wrapper

        D = driver_mod.ReplayDriver
        for owner, attr, wrap in (
            (D, "process_range", timed),
            (D, "process_markers", timed),
            (driver_mod, "build_merge_source_typed", salt),
        ):
            orig = getattr(owner, attr)
            self._restore.append((owner, attr, orig))
            setattr(owner, attr, wrap(orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


def hot_keys(salt) -> int:
    """Number of keys the fold salted: ``(chunks, hot_list)`` -> len."""
    if isinstance(salt, tuple):
        return len(salt[1] or [])
    return 0


def q75(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4)[2]


class Workload:
    """Set up, run and verify one workload. Subclasses fill ``self.out``
    with raw samples: ``catchup_s``, ``apply_s``, ``batch_s`` and
    ``lookup_s`` lists, ``open_s`` set-up samples, plus ``failed`` and
    ``attempted`` counts."""

    name = ""
    merge_mode = "cow"
    setup_reps = 3
    min_reps = 1
    lookups_between_batches = False
    warm_engine_kw: dict = {}

    def __init__(self, spark, inputs: Inputs, workdir: str, seconds: float):
        self.spark = spark
        self.inp = inputs
        self.workdir = workdir
        self.seconds = seconds
        self.out = {
            "catchup_s": [], "apply_s": [], "batch_s": [], "lookup_s": [],
            "open_s": [], "warm_s": 0.0, "attempted": 0, "failed": 0,
            "errors": [],
        }
        self.between_s = 0.0  # wall of the lookups done between batches
        self._lookup_i = 0
        self.engine = None
        self.probe = None  # set by the caller on untraced runs

    # ------------------------------------------------------------ helpers
    def _fresh(self, tag: str) -> str:
        d = os.path.join(self.workdir, tag)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _new_engine(self, workdir: str, **kw):
        from logminer_kafka_connect_spark.engine import CdcEngine

        return CdcEngine(self.spark, workdir, merge_mode=self.merge_mode, **kw)

    def _load_snapshot(self, engine) -> None:
        from logminer_kafka_connect_spark.sources.generator import SCN0

        engine.load_snapshot(self.inp.snapshot(), snapshot_scn=SCN0 - 1)

    def warm(self) -> None:
        """Warm pass on a separate scratch table, timed into ``setup_s``:
        the same engine mode loads the snapshot, replays the head of the log
        as one batch of about ``batch.size`` rows and serves one lookup, so
        JIT, codegen and the Python workers are warm before the measured
        work. Loading the snapshot first makes the warm batch rewrite
        populated buckets, as the measured batches do."""
        t0 = time.time()
        eng = self._new_engine(self._fresh("warm"), **self.warm_engine_kw)
        self._load_snapshot(eng)
        eng.replay(self.inp.events(self.inp.event_files[:1]).limit(WARM_EVENT_ROWS), n_batches=1)
        if self.merge_mode == "mor":
            eng.table.compact(self.spark)
        eng.table.read_for_keys(self.spark, self.inp.lookups[0]).collect()
        self.out["warm_s"] = time.time() - t0

    def _timed_lookup(self, engine, keys: list[str]) -> list:
        t0 = time.time()
        rows = engine.table.read_for_keys(self.spark, keys).collect()
        self.out["lookup_s"].append(time.time() - t0)
        self.out["attempted"] += 1
        return rows

    def _next_keys(self) -> list[str]:
        keys = self.inp.lookups[self._lookup_i % len(self.inp.lookups)]
        self._lookup_i += 1
        return keys

    def _lookups_after_replay(self, engine) -> None:
        for _ in range(LOOKUPS_AFTER_REPLAY):
            self._timed_lookup(engine, self._next_keys())

    def between_batches(self) -> None:
        """Lookups on ``self.engine``'s table right after a batch commits
        (untraced runs only; see the module docstring)."""
        t0 = time.time()
        for _ in range(LOOKUPS_PER_BATCH):
            self._timed_lookup(self.engine, self._next_keys())
        self.between_s += time.time() - t0

    def _batches_from_probe(self, since: int = 0) -> None:
        if self.probe is not None:
            for _bid, t0, t1 in self.probe.batches[since:]:
                self.out["batch_s"].append(t1 - t0)

    # ------------------------------------------------------- correctness
    def check_state(self, engine, label: str) -> None:
        """Final table (url, lang, md5(text)) must equal the generator's
        independent oracle; a mismatch is a failed operation."""
        from pyspark.sql import functions as F

        self.out["attempted"] += 1
        got = (
            engine.state()
            .select("url", "lang", F.md5(F.col("text")).alias("text_md5"))
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True)
        )
        exp = self.inp.expected().sort_values("url").reset_index(drop=True)
        ok = len(got) == len(exp)
        if ok:
            for c in ("url", "lang", "text_md5"):
                a = got[c].where(got[c].notna(), None).tolist()
                b = exp[c].where(exp[c].notna(), None).tolist()
                if a != b:
                    ok = False
                    break
        if not ok:
            self.out["failed"] += 1
            self.out["errors"].append(
                f"{label}: final state differs from oracle ({len(got)} vs {len(exp)} rows)"
            )

    def check(self, ok: bool, what: str) -> None:
        """A mechanism assertion: the workload must run the layer it is for."""
        self.out["attempted"] += 1
        if not ok:
            self.out["failed"] += 1
            self.out["errors"].append(f"mechanism: {what}")

    # ------------------------------------------------------ traced runs
    def decompose_batch(self, tracer) -> str:
        """The batch whose lazy layers the traced run decomposes: the
        second applied batch (past first-batch effects), else the first."""
        ids = [b.batch for b in tracer.batches()]
        return ids[1] if len(ids) > 1 else ids[0]

    def changes_applied(self, n_changes: int) -> int:
        return n_changes * len(self.out["apply_s"])

    def outside_batches_s(self, tracer) -> float:
        """Apply wall not spent inside a batch call or range planning."""
        inside = sum(b.dur for b in tracer.batches())
        inside += sum(s.dur for s in tracer.named("driver.plan"))
        return max(0.0, sum(self.out["apply_s"]) - inside)

    def _results_path(self, seed: int) -> str:
        d = os.path.join(os.path.dirname(self.workdir), "results")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{self.name}-{seed}.json")

    def record_untraced(self, host: dict) -> None:
        """Keep the untraced apply wall for the traced run's overhead."""
        with open(self._results_path(self.inp.fingerprint["seed"]), "w") as f:
            json.dump({"apply_s": statistics.median(self.out["apply_s"]), "host": host}, f)

    def trace_overhead(self, tracer) -> float:
        """Traced over untraced apply wall, minus one, against the untraced
        run of the same seed (else the latest untraced run of this
        workload); 0.0 when no untraced run exists in this checkout."""
        path = self._results_path(self.inp.fingerprint["seed"])
        if not os.path.exists(path):
            d = os.path.dirname(path)
            mine = [os.path.join(d, n) for n in os.listdir(d) if n.startswith(self.name + "-")]
            if not mine:
                return 0.0
            path = max(mine, key=os.path.getmtime)
        with open(path) as f:
            base = json.load(f)["apply_s"]
        return statistics.median(self.out["apply_s"]) / base - 1.0

    def close(self) -> None:
        pass


class BulkCatchup(Workload):
    name = "bulk_catchup"
    lookups_between_batches = True

    def open(self) -> None:
        for i in range(self.setup_reps):
            t0 = time.time()
            self._new_engine(self._fresh(f"open-{i}"))
            self.out["open_s"].append(time.time() - t0)

    def run(self) -> None:
        events = self.inp.events()
        t_end = time.time() + self.seconds
        rep = 0
        while rep < self.min_reps or time.time() < t_end:
            n_probe = len(self.probe.batches) if self.probe else 0
            t0 = time.time()
            eng = self._new_engine(self._fresh(f"rep-{rep}"))
            self.engine = eng
            self._load_snapshot(eng)
            t1 = time.time()
            paused = self.between_s
            eng.replay(events, n_batches=BULK_BATCHES)
            t2 = time.time()
            paused = self.between_s - paused
            self.out["catchup_s"].append(t2 - t0 - paused)
            self.out["apply_s"].append(t2 - t1 - paused)
            self.out["attempted"] += 1
            self._batches_from_probe(n_probe)
            self.check_state(eng, f"rep {rep}")
            rep += 1
        self._lookups_after_replay(self.engine)

    def verify(self, hot: int) -> None:
        self.check(self.inp.fingerprint["csf_rows"] > 0, "no CSF-chunked statements in the log")
        self.check(hot > 0, "auto-salt did not engage (fold.hot_keys == 0)")


class TrickleCow(Workload):
    name = "trickle_cow"
    setup_reps = 2
    lookups_between_batches = True

    def _from_properties(self, workdir: str):
        from logminer_kafka_connect_spark.engine import CdcEngine

        return CdcEngine.from_properties(self.spark, workdir, CONNECTOR_PROPERTIES)

    def open(self) -> None:
        for i in range(self.setup_reps):
            t0 = time.time()
            eng = self._from_properties(self._fresh(f"open-{i}"))
            self._load_snapshot(eng)
            self.out["open_s"].append(time.time() - t0)
        self.engine = eng

    def run(self) -> None:
        eng = self.engine
        n_probe = len(self.probe.batches) if self.probe else 0
        t0 = time.time()
        stats = eng.run_from_config(
            self.inp.events(), total_events=self.inp.fingerprint["event_rows"]
        )
        apply_s = time.time() - t0 - self.between_s
        self.n_batches = stats.n_batches
        self.out["apply_s"].append(apply_s)
        self.out["catchup_s"].append(statistics.median(self.out["open_s"]) + apply_s)
        self.out["attempted"] += stats.n_batches
        self._batches_from_probe(n_probe)
        self.check_state(eng, "replay")
        self._lookups_after_replay(eng)

    def verify(self, hot: int) -> None:
        expected = min(64, -(-self.inp.fingerprint["event_rows"] // 1000))
        self.check(self.n_batches == expected, f"{self.n_batches} batches, expected {expected}")
        self.check(hot == 0, f"salting engaged on a uniform log ({hot} hot keys)")


class ServeMor(Workload):
    name = "serve_mor"
    merge_mode = "mor"
    setup_reps = 2
    warm_engine_kw = {"compact_every": 2}

    def open(self) -> None:
        for i in range(self.setup_reps):
            t0 = time.time()
            eng = self._new_engine(self._fresh(f"open-{i}"), compact_every=MOR_COMPACT_EVERY)
            self._load_snapshot(eng)
            self.out["open_s"].append(time.time() - t0)
        self.engine = eng
        self.events_dir = self._fresh("stream-events")
        os.makedirs(self.events_dir)
        self.query = eng.run_streaming(
            self.events_dir, self._fresh("checkpoint"), poll_interval_ms=STREAM_POLL_MS
        )
        self.query.processAllAvailable()

    def run(self) -> None:
        import numpy as np

        eng = self.engine
        files = self.inp.event_files
        rng = np.random.default_rng(self.inp.fingerprint["seed"])
        checked = int(rng.integers(len(files)))
        apply_s = 0.0
        for step, src in enumerate(files):
            staged = os.path.join(self.workdir, f".staged-{step}.parquet")
            shutil.copyfile(src, staged)
            t0 = time.time()
            os.rename(staged, os.path.join(self.events_dir, f"step-{step:03d}.parquet"))
            self.query.processAllAvailable()
            dt = time.time() - t0
            apply_s += dt
            self.out["batch_s"].append(dt)
            self.out["attempted"] += 1
            keys = self.inp.lookups[step]
            rows = self._timed_lookup(eng, keys)
            if step == checked:
                self._check_lookup(eng, keys, rows)
        self.out["apply_s"].append(apply_s)
        self.out["catchup_s"].append(statistics.median(self.out["open_s"]) + apply_s)
        self.check_state(eng, "stream")

    def _check_lookup(self, eng, keys: list[str], rows: list) -> None:
        """A point lookup must equal a full-scan filter of the same version."""
        from pyspark.sql import functions as F

        self.out["attempted"] += 1
        full = eng.state().filter(F.col("url").isin(keys)).collect()
        if sorted(map(tuple, rows)) != sorted(map(tuple, full)):
            self.out["failed"] += 1
            self.out["errors"].append(f"lookup {keys[:2]}... differs from full scan")

    def verify(self, hot: int) -> None:
        ops = [h.get("operation") for h in self.engine.table.snapshot_history()]
        self.check("merge-mor" in ops, "no merge-mor commit in the table history")
        self.check(ops.count("compact") >= 1, "no compaction ran")

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()


WORKLOADS = {w.name: w for w in (BulkCatchup, TrickleCow, ServeMor)}
