"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (GEN_VERSION, seed, multiplier), so
the same seed always yields byte-identical inputs. Two shapes exist:

* ``sf``    -- a stand-in for the repository's sf0.1 test fixture: one
  time-sorted ``events`` parquet file with ``ts`` as TIMESTAMP(MICROS)
  and the fixture's marginals (perfbench/README.md compares them). Like
  the fixture it is one fixed data set: the run's seed does not change
  it (the seed permutes the query order instead).
* ``scale`` -- the ScaleFixture v8 shape at a multiplier: ``events`` is
  a directory of part files with TIMESTAMP(NANOS) ``ts`` and ascending
  file mtimes (arrival order = event-time order), adjacent event pairs
  share a user; embeddings sit around ten cluster centres; customer
  names are a seeded sample of an id space.

Only the tables the workloads' queries and kernels read are written.

Tables land in a cache directory keyed by (version, shape, seed, mult);
a complete cache entry is reused, never rewritten.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "g2"
EPOCH_US = 1704067200000000  # 2024-01-01T00:00:00Z, the fixtures' E
DAY_US = 86400000000
SF_SEED = 0  # the one seed of the fixed ``sf`` data set
EVENT_TYPES = np.array(["view", "click", "error", "purchase", "signup"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])


def _rng(seed, salt):
    return np.random.default_rng([int(seed), int(salt)])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events_table(n, seed, span_days, pair_users, ts_unit):
    """Time-sorted event stream: exponential inter-arrival gaps over
    ``span_days``, uniform users (adjacent pairs share one when
    ``pair_users``), five event types, exponential values (mean 50,
    cents precision) -- the sf0.1 fixture's marginals."""
    r = _rng(seed, 1)
    gaps = r.exponential(1.0, n)
    t = np.cumsum(gaps)
    t = (t / t[-1] * (span_days * DAY_US - 60_000_000)).astype(np.int64)
    ts_us = EPOCH_US + 7_000_000 + t
    if pair_users:
        users = r.integers(0, 1500, (n + 1) // 2)
        user_id = np.repeat(users, 2)[:n]
    else:
        user_id = r.integers(0, 1500, n)
    etype = EVENT_TYPES[r.integers(0, 5, n)]
    value = np.round(r.exponential(50.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}")
    if ts_unit == "ns":
        ts = pa.array(ts_us * 1000, type=pa.timestamp("ns"))
    else:
        ts = pa.array(ts_us, type=pa.timestamp("us"))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts,
        "user_id": pa.array(user_id.astype(np.int64)),
        "event_type": pa.array(etype.tolist(), type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props.tolist(), type=pa.string()),
    })


def embeddings_table(nv, seed):
    """64-dim float32 vectors around ten seeded cluster centres."""
    r = _rng(seed, 3)
    centres = r.normal(0.0, 0.15, (10, 64))
    label = np.arange(nv) % 10
    emb = (centres[label] + r.normal(0.0, 0.05, (nv, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def customer_table(nc, seed):
    """Customers whose names are a seeded sample of a 10x wider id
    space, so the one-edit name pairs differ per seed."""
    r = _rng(seed, 4)
    ids = np.sort(r.choice(10 * nc, nc, replace=False))
    return pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in ids], type=pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(SEGMENTS[r.integers(0, 5, nc)].tolist(), type=pa.string()),
    })


def build(root, shape, seed, mult):
    """Write the inputs for one (shape, seed, mult) under ``root`` and
    return the data directory. Reuses a complete earlier build."""
    if shape == "sf":
        seed = SF_SEED
    key = "%s-%s-x%d-s%d" % (GEN_VERSION, shape, mult, seed)
    out = os.path.join(root, key)
    done = os.path.join(out, "_complete")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if shape == "sf":
        _write(events_table(100000 * mult, seed, 30, False, "us"),
               os.path.join(tmp, "events.parquet"))
    else:
        ev = events_table(100000 * mult, seed, 30 * mult, True, "ns")
        edir = os.path.join(tmp, "events.parquet")
        os.makedirs(edir)
        nfiles = max(2, mult)
        per = -(-ev.num_rows // nfiles)
        for i in range(nfiles):
            f = os.path.join(edir, "part-%05d.parquet" % i)
            _write(ev.slice(i * per, per), f)
            # arrival order = event-time order for the file stream source
            t = 1700000000 + i * 60
            os.utime(f, (t, t))
        _write(embeddings_table(2000 * mult, seed), os.path.join(tmp, "embeddings.parquet"))
        _write(customer_table(15000 * mult, seed), os.path.join(tmp, "customer.parquet"))
    with open(os.path.join(tmp, "_complete"), "w") as f:
        f.write(key)
    os.rename(tmp, out)
    return out
