"""Seeded input generators: the carbon feed, the dashboard query pool and
schedule, and the operator-catalog tables. The same seed gives byte-identical
output; nothing here reads a clock.
"""
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A fixed synthetic epoch (2024-01-02T12:00:00Z): line timestamps are
# EPOCH + the line's due offset, and the daemon's `nowSec` is pinned to
# NOW, so which windows and stat_date directories a run touches does not
# depend on the wall-clock day.
EPOCH = 1704196800
NOW = EPOCH + 60

TYPES = ["click", "error", "purchase", "signup", "view", "login"]
PROBE = "servers.error.probe"
TICK_S = 0.01
PROBE_EVERY_TICKS = 10
MALFORMED_EVERY = 1000


def live_paths(hosts, prefix, root="servers"):
    return [f"{root}.{t}.{prefix}{h}" for h in range(hosts) for t in TYPES]


def conn_of(path, conns):
    """Each path goes to exactly one connection, so its lines arrive in send
    order and the LAST tiebreak on arrival order is deterministic."""
    return zlib.crc32(path.encode()) % conns


def malformed(kind, path, ts):
    # three ways a line is rejected: field count, a non-numeric value, and a
    # hex float that Java parses but the listener refuses by design
    return [f"{path} 1.0", f"{path} abc {ts}", f"{path} 0x1.8p3 {ts}"][kind % 3]


class Feed:
    """An open-loop carbon feed: `ticks` lists, per 10 ms tick, the due
    offset and the bytes for each connection; `sent` lists the well-formed
    lines as (path, value, ts, seq) in send order; `probes` maps probe seq to
    its due offset."""

    def __init__(self, seed, rate, seconds, paths, conns):
        rng = random.Random(seed)
        order = list(paths)
        rng.shuffle(order)
        per_tick = rate * TICK_S
        self.ticks, self.sent, self.probes = [], [], {}
        self.malformed = 0
        n_ticks = int(round(seconds / TICK_S))
        carry, k, probe_seq = 0.0, 0, 0
        for i in range(n_ticks):
            due = i * TICK_S
            ts = EPOCH + int(due)
            chunks = [[] for _ in range(conns)]
            carry += per_tick
            n, carry = int(carry), carry - int(carry)
            for _ in range(n):
                # every path once first, so all are visible after warm-up
                path = order[k] if k < len(order) else rng.choice(paths)
                k += 1
                if k % MALFORMED_EVERY == 0:
                    line = malformed(k // MALFORMED_EVERY, path, ts)
                    self.malformed += 1
                else:
                    value = f"{rng.randrange(100000) / 100:.2f}"
                    line = f"{path} {value} {ts}"
                    self.sent.append((path, value, ts, len(self.sent)))
                chunks[conn_of(path, conns)].append(line)
            if i % PROBE_EVERY_TICKS == 0:
                probe_seq += 1
                self.probes[probe_seq] = due
                self.sent.append((PROBE, f"{probe_seq}.00", ts, len(self.sent)))
                chunks[conn_of(PROBE, conns)].append(f"{PROBE} {probe_seq}.00 {ts}")
            self.ticks.append((due, [("\n".join(c) + "\n").encode() if c else b""
                                     for c in chunks]))

    def lines(self):
        return len(self.sent) + self.malformed

    def write_sent(self, path):
        with open(path, "w") as f:
            for p, v, ts, seq in self.sent:
                f.write(f"{p},{v},{ts},{seq}\n")


def history_path(p):
    """The preloaded history's path shape (graft.perfbench.History)."""
    return f"servers.{TYPES[p % len(TYPES)]}.u{p // len(TYPES)}"


GLOBS = ["servers.*", "servers.click.*", "servers.*.u1"]
# query ages that select each rollup table (MetricQuery.chooseWindow keys on
# now - from): the 60 s / 600 s windows, the hourly and the daily tables
AGES = [1800, 5 * 3600, 2 * 86400, 10 * 86400]


def query_pool(seed, paths, n_metrics=48):
    """Distinct dashboard queries: `metrics <p1,p2,..> <from> <to>` and
    `paths <glob>`; some metrics queries name several paths of one type."""
    rng = random.Random(seed + 7)
    pool = []
    for i in range(n_metrics):
        age = AGES[i % len(AGES)]
        frm = NOW - age
        to = frm + min(age, 6 * 3600)
        first = rng.randrange(len(paths))
        if i % 4 == 3:
            group = [paths[(first + len(TYPES) * j) % len(paths)] for j in range(3)]
        else:
            group = [paths[first]]
        pool.append(f"metrics {','.join(group)} {frm} {to}")
    pool += [f"paths {g}" for g in GLOBS]
    return pool


PROBE_QUERY = f"metrics {PROBE} {EPOCH - 60} {NOW + 3600}"


def sequence(pool, n, pattern):
    """The dashboard's request sequence: `pattern` (a cycle of "probe",
    "metrics" and "paths") picks the kind of each request, and the metrics
    queries and globs are taken in pool order, round robin. So every run
    sends the same mix in the same order; the seed only changes which paths
    the pool names."""
    metrics = [q for q in pool if q.startswith("metrics")]
    globs = [q for q in pool if q.startswith("paths")]
    take = {"metrics": 0, "paths": 0}
    out = []
    for i in range(n):
        kind = pattern[i % len(pattern)]
        if kind == "probe":
            out.append(PROBE_QUERY)
        else:
            src = metrics if kind == "metrics" else globs
            out.append(src[take[kind] % len(src)])
            take[kind] += 1
    return out


# ------------------------------------------------------------ catalog tables

WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "vector customer the join").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def catalog_tables(seed, out_dir, scale):
    """The tables the catalog ops read, shaped like the repo's fixtures:
    `events`, `lineitem`, `documents` (with exact and near duplicates) and
    `embeddings` (unit vectors around ten labelled centres)."""
    rng = np.random.default_rng(seed)
    n_ev = int(10000 * scale)
    day0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(day0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(["signup", "error", "click", "view", "purchase"], n_ev)),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    pq.write_table(events, f"{out_dir}/events.parquet")

    n_li = int(60000 * scale)
    ship0 = np.datetime64("1995-01-02T00:00:00", "us")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_li), 2)
    lineitem = pa.table({
        "l_orderkey": pa.array(np.arange(n_li, dtype=np.int64) // 4),
        "l_partkey": pa.array(rng.integers(1, 2001, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 101, n_li), pa.int64()),
        "l_linenumber": pa.array((np.arange(n_li) % 4 + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(ship0 + (rng.integers(0, 2500, n_li) * 86400 * 10**6)
                               .astype("timedelta64[us]"), pa.timestamp("us")),
    })
    pq.write_table(lineitem, f"{out_dir}/lineitem.parquet")

    n_doc = int(500 * scale)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near duplicate: a few words changed
            w = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(w), 2):
                w[int(j)] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, f"{out_dir}/documents.parquet")

    n_emb = int(500 * scale)
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    vec = centres[label] + 0.6 * rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label),
    })
    pq.write_table(embeddings, f"{out_dir}/embeddings.parquet")
