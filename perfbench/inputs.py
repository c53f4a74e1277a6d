"""Seeded benchmark inputs: generation, on-disk cache and fingerprint.

Each workload's inputs are a pure function of ``(workload, seed)``. They
are generated with the package's own ``CdcGenerator`` outside any timed
region, written once per seed under the checkout's ``.perfbench_cache``
directory, and reused by later runs with the same seed. No Spark is
involved: events come from ``CdcGenerator.txn_rows`` in a small process
pool, the oracle from ``CdcGenerator.expected_final_state``.

The fingerprint (row counts plus a content hash of events, snapshot and
oracle) ships with every result, so a run whose generator output differs
from the recorded baseline is flagged as not comparable.

Run as a script to build one cache entry:
``python3 perfbench/inputs.py <cache_dir> <workload> <seed>``.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import sys

# Per-workload generator settings and log layout. ``files`` is the number
# of SCN-ordered parquet files the log is split into: the bulk log stays at
# or under eight files so the driver's skew probe reads all of it; the
# streaming log gets one file per client step.
WORKLOADS = {
    "bulk_catchup": {
        # html-heavy statements (CSF-chunked past 4000 chars); two hot urls
        # take 75% of the changes, above the auto-salt trigger at P=4
        "gen": dict(n_txns=5400, n_urls=4000, n_snapshot=2000, hot_urls=2,
                    hot_frac=0.75, html_paragraphs=5),
        "files": 4,
    },
    "trickle_cow": {
        # uniform keys, short pages: the parse is cheap and never salted;
        # sized to a handful of batch.size=1000 commit-SCN batches
        "gen": dict(n_txns=690, n_urls=6000, n_snapshot=6000, hot_urls=8,
                    hot_frac=0.0, html_paragraphs=1),
        "files": 4,
    },
    "serve_mor": {
        # uniform keys over a merge-on-read table, one log file per step
        "gen": dict(n_txns=240, n_urls=3000, n_snapshot=3000, hot_urls=8,
                    hot_frac=0.0, html_paragraphs=2),
        "files": 3,
    },
}

LOOKUP_KEYS_PER_STEP = 8


def generator(workload: str, seed: int):
    from logminer_kafka_connect_spark.sources.generator import CdcGenerator, GeneratorConfig

    return CdcGenerator(GeneratorConfig(seed=seed, **WORKLOADS[workload]["gen"]))


def _events_slice(args) -> "object":
    import pandas as pd

    from logminer_kafka_connect_spark.sources.events import EVENT_COLUMNS

    workload, seed, lo, hi = args
    gen = generator(workload, seed)
    rows: list[dict] = []
    for t in range(lo, hi):
        rows.extend(gen.txn_rows(t)[0])
    return pd.DataFrame(rows, columns=EVENT_COLUMNS)


def _snapshot(args) -> "object":
    workload, seed = args
    return generator(workload, seed).snapshot_pdf()


def _expected(args) -> "object":
    import hashlib as _h

    workload, seed = args
    exp = generator(workload, seed).expected_final_state(include_snapshot=True)
    out = exp[["url", "lang"]].copy()
    out["text_md5"] = [
        None if t is None else _h.md5(t.encode("utf-8")).hexdigest() for t in exp["text"]
    ]
    return out


def _event_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("scn", pa.int64()), ("commit_scn", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")), ("op_code", pa.int32()),
            ("operation", pa.string()), ("seg_owner", pa.string()),
            ("table_name", pa.string()), ("username", pa.string()),
            ("sql_redo", pa.string()), ("row_id", pa.string()),
            ("csf", pa.bool_()), ("seq", pa.int32()), ("xid", pa.string()),
            ("status", pa.int32()), ("rollback", pa.int32()),
        ]
    )


def _hash_frame(df) -> str:
    import pandas as pd

    return hashlib.sha256(
        pd.util.hash_pandas_object(df, index=False).values.tobytes()
    ).hexdigest()[:16]


def build(cache_dir: str, workload: str, seed: int, n_procs: int) -> dict:
    """Generate one workload's inputs for ``seed`` into ``cache_dir``."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logminer_kafka_connect_spark.sources.events import OP_DELETE, OP_INSERT, OP_UPDATE

    spec = WORKLOADS[workload]
    n_txns = spec["gen"]["n_txns"]
    tmp = cache_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-n_txns // (4 * n_procs))
    slices = [(workload, seed, lo, min(n_txns, lo + step)) for lo in range(0, n_txns, step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(n_procs) as pool:
        exp_f = pool.apply_async(_expected, ((workload, seed),))
        snap_f = pool.apply_async(_snapshot, ((workload, seed),))
        parts = pool.map(_events_slice, slices)
        expected = exp_f.get()
        snapshot = snap_f.get()
    events = (
        pd.concat(parts, ignore_index=True)
        .sort_values(["scn", "row_id", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    schema = _event_arrow_schema()
    ev_dir = os.path.join(tmp, "events")
    os.makedirs(ev_dir)
    # contiguous SCN slices: file k holds the k-th part of the SCN-ordered
    # log (a CSF group never spans two files, its rows share one SCN)
    n_files = spec["files"]
    cuts = [round(i * len(events) / n_files) for i in range(n_files + 1)]
    for i in range(n_files):
        a, b = cuts[i], cuts[i + 1]
        while 0 < b < len(events) and events["scn"].iat[b] == events["scn"].iat[b - 1]:
            b += 1
        cuts[i + 1] = b
        part = events.iloc[a:b]
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            os.path.join(ev_dir, f"part-{i:03d}.parquet"),
        )
    snap_schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
         ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
    )
    os.makedirs(os.path.join(tmp, "snapshot"))
    pq.write_table(
        pa.Table.from_pandas(snapshot, schema=snap_schema, preserve_index=False),
        os.path.join(tmp, "snapshot", "part-000.parquet"),
    )
    expected.to_parquet(os.path.join(tmp, "expected.parquet"), index=False)

    is_stmt = events["op_code"].isin([OP_INSERT, OP_DELETE, OP_UPDATE]) & (events["seq"] == 0)
    fingerprint = {
        "workload": workload,
        "seed": seed,
        "event_rows": int(len(events)),
        "change_statements": int(is_stmt.sum()),
        "csf_rows": int(events["csf"].sum()),
        "snapshot_rows": int(len(snapshot)),
        "expected_rows": int(len(expected)),
        "files": n_files,
        "hash": _hash_frame(events) + _hash_frame(snapshot)
        + _hash_frame(expected),
    }
    # lookup keys for the serving workload: per step a seeded mix of keys
    # the log updates, keys it deletes and keys that never existed
    final_urls = set(expected["url"])
    touched = sorted(set(snapshot["url"]) & final_urls)
    deleted = sorted(set(snapshot["url"]) - final_urls)
    import numpy as np

    rng = np.random.default_rng(seed)
    lookups = []
    for s in range(n_files):
        keys = list(rng.choice(touched, size=LOOKUP_KEYS_PER_STEP - 3, replace=False))
        if deleted:
            keys += list(rng.choice(deleted, size=min(2, len(deleted)), replace=False))
        keys.append(f"https://absent.example.com/{seed}/{s}")
        lookups.append([str(k) for k in keys])
    with open(os.path.join(tmp, "lookups.json"), "w") as f:
        json.dump(lookups, f)
    with open(os.path.join(tmp, "fingerprint.json"), "w") as f:
        json.dump(fingerprint, f, sort_keys=True)
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.rename(tmp, cache_dir)
    return fingerprint


def main(argv: list[str]) -> int:
    cache_dir, workload, seed = argv[1], argv[2], int(argv[3])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    fp = build(cache_dir, workload, seed, n_procs=len(os.sched_getaffinity(0)))
    print(json.dumps(fp, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
