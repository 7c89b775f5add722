#!/usr/bin/env python3
"""graft's benchmark: the daemon from wire to query, plus an operator catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (sbt, into ignored directories); later runs reuse the
build while the sources are unchanged. Each run boots one harness JVM (the
system under test: a Spark session and a composed graft.Daemon), drives it
from this process (the load generator: carbon lines over TCP, dashboard
requests over HTTP, a freshness probe), drains it, checks every output, runs
the workload's operator catalog, and prints one JSON line last on stdout.
The exit code is 0 only when every check passed. See NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import load  # noqa: E402
import report  # noqa: E402

WARMUP_S = 3.0
PROBE_GRACE_S = 15.0
SEQUENCE_LEN = 2000
CATALOG_SCALE = 1.0
FINAL_METRICS_QUERIES = 3
RUN_DEADLINE_S = 170

# Each workload is a traffic mix on one engine: the daemon (carbon ingest,
# dashboard reads, a freshness probe) and then an analytics tenant that runs
# catalog ops on the same session. The two mixes load opposite daemon layers,
# and their catalog ops are disjoint, so every layer has a workload where it
# works and one where it does not.
WORKLOADS = {
    # write-heavy: a high open-loop carbon rate (60% of what the flush stream
    # drains on a 4-core host) over 2,400 live paths, so listener, stage,
    # stream, rollup and store-append work; the dashboard reads a small store
    "ingest_live": dict(rate=8000, root="servers", hosts=400, host="u", preload=None,
                        catalog=["chunk_knn", "stream_rollup"]),
    # read-heavy: a preloaded two-day history of 600 paths, partly left
    # uncompacted, read back to back by the dashboard; the carbon feed is a
    # trickle over 24 paths outside the dashboard's globs
    "dashboard_read": dict(rate=200, root="live", hosts=4, host="w",
                           preload=dict(paths=600, days=2, step_s=1800, slices=4,
                                        compact_after=2),
                           catalog=["store_lifecycle", "q1_pricing"]),
}
CONNS = 2
# the dashboard's cycle of request kinds: three of four are GET /metrics, so
# that the window holds the twenty a median needs (see report.MIN_BEYOND)
PATTERN = ["probe", "metrics", "probe", "paths"]
ORACLE_TIMEOUT_S = 120

E2E_UNITS = {
    "setup_s": "s", "freshness_p50_s": "s", "freshness_p90_s": "s",
    "visible_lines_per_s": "lines/s", "metrics_p50_ms": "ms", "store_bytes_per_line": "B/line",
    "rss_peak_mb": "MB", "catalog_s": "s",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


T_START = time.time()


def log(msg):
    print(f"[perfbench] {time.time() - T_START:6.1f}s {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, bdir, stamp):
    """The harness classpath; compiles with sbt when the sources changed."""
    cp_file, stamp_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx1536m"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def check_oracles(root, data_dir, dump_dir, names, report_file):
    """The repo's own oracle gate, `tools/oracle_check.py`, over the catalog's
    dump: {op: None | reason}. Its report is kept in `report_file`."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "oracle_check.py"),
                        data_dir, dump_dir], cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=ORACLE_TIMEOUT_S)
    with open(report_file, "w") as f:
        f.write(p.stdout)
    return checks.oracle_verdicts(p.stdout, p.returncode, names)


# ------------------------------------------------------------------ harness

class Harness:
    """The system-under-test JVM and its stdin/stdout command channel."""

    def __init__(self, cp, run_dir, props):
        self.props_file = os.path.join(run_dir, "run.properties")
        with open(self.props_file, "w") as f:
            for k, v in props.items():
                f.write(f"{k}={v}\n")
        self.err = open(os.path.join(run_dir, "harness.log"), "w")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd += ["-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-cp", cp, "graft.perfbench.Harness", self.props_file]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.err, text=True, bufsize=1)

    def expect(self, tag, timeout):
        deadline = time.time() + timeout
        while time.time() < deadline:
            line = self.proc.stdout.readline()
            if not line:
                break
            if line.startswith("@@" + tag):
                log(f"harness {tag}")
                return line.strip()
        raise RuntimeError(f"harness did not answer {tag}")

    def send(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(20)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.err.close()


# --------------------------------------------------------------------- run

def run(args, root):
    w = WORKLOADS[args.workload]
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    b0 = time.time()
    stamp = source_stamp(root)
    cp = build(root, bdir, stamp)
    build_s = time.time() - b0

    run_dir = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)

    # inputs, all from the seed
    paths = gen.live_paths(w["hosts"], w["host"], w["root"])
    feed = gen.Feed(args.seed, w["rate"], WARMUP_S + args.seconds, paths, CONNS)
    sent_file = os.path.join(run_dir, "sent.csv")
    feed.write_sent(sent_file)
    pre = w["preload"]
    pool_paths = [gen.history_path(p) for p in range(pre["paths"])] if pre else paths
    pool = gen.query_pool(args.seed, pool_paths)
    seq = gen.sequence(pool, SEQUENCE_LEN, PATTERN)
    # after the drain, a sample of the pool (and the probe) must equal the
    # reference; on dashboard_read so must every answer made in the window
    final = ([q for q in pool if q.startswith("metrics")][:FINAL_METRICS_QUERIES]
             + [q for q in pool if q.startswith("paths")]
             + [gen.PROBE_QUERY])
    checked = sorted(set(final) | (set(seq) if pre else set()))
    pool_file = os.path.join(run_dir, "queries.txt")
    with open(pool_file, "w") as f:
        f.write("\n".join(checked) + "\n")
    gen.catalog_tables(args.seed, data_dir, CATALOG_SCALE)

    t_setup = time.time()
    h = Harness(cp, run_dir, {
        "runDir": run_dir, "trace": args.trace, "seed": args.seed, "epoch": gen.EPOCH,
        "nowSec": gen.NOW,
        **({"preloadPaths": pre["paths"], "preloadDays": pre["days"],
            "preloadStepSec": pre["step_s"], "preloadSlices": pre["slices"],
            "preloadCompactAfter": pre["compact_after"]} if pre else {}),
    })
    rec = {"seconds": args.seconds}

    def overdue():
        # a run must end within 180 s of its build: stop the JVM and give up
        log("run overdue: stopping the harness")
        h.proc.kill()
        os._exit(3)
    watchdog = threading.Timer(RUN_DEADLINE_S - (time.time() - T_START - build_s), overdue)
    watchdog.daemon = True
    watchdog.start()
    try:
        ready = dict(kv.split("=") for kv in h.expect("READY", 150).split()[1:])
        carbon_port, http_port = int(ready["carbon"]), int(ready["http"])

        # the feed starts now; the HTTP streams start with the window, once
        # the warm-up's flushes have created the store
        t0 = time.time() + 0.2
        h.send(f"START {int(t0 * 1000)}")
        ws, we = t0 + WARMUP_S, t0 + WARMUP_S + args.seconds
        carbon = load.CarbonSender(carbon_port, feed, t0)
        dash = load.Dashboard(http_port, seq, ws, we, PROBE_GRACE_S)
        window_probes = [s for s, due in feed.probes.items() if ws <= t0 + due < we]
        dash.want = max(window_probes)
        for t in (carbon, dash):
            t.start()
        carbon.join()
        dash.join()
        log(f"load done: {len(dash.records)} dashboard requests")

        expect_file = os.path.join(run_dir, "expected.jsonl")
        h.send(f"DRAIN {sent_file} {pool_file} {expect_file}")
        h.expect("DRAINED", 150)
        with open(expect_file) as f:
            expected = {d["q"]: d for d in map(json.loads, f)}

        # the final answers: after the drain every query equals the reference
        final_http = load.Http(http_port)
        answers = [(q, *final_http.get(load.url_of(q))) for q in final]
        final_http.close()
        log("final answers checked")

        dump_dir = os.path.join(run_dir, "dump")
        h.send(f"CATALOG {data_dir} {dump_dir} {','.join(w['catalog'])}")
        h.expect("CATALOGED", 170)
        oracle_result = check_oracles(root, data_dir, dump_dir, w["catalog"],
                                      os.path.join(run_dir, "oracle_check.txt"))

        log("oracles checked")
        result_file = os.path.join(run_dir, "result.json")
        h.send(f"FINISH {result_file}")
        h.expect("DONE", 60)
        h.close()
        with open(result_file) as f:
            hr = json.load(f)
    finally:
        h.close()

    # ---- correctness, counted against attempts
    gate = checks.Gate()
    gate.lines(len(feed.sent), feed.malformed, hr["received_ok"], hr["received_fail"])
    gate.store(hr["store_missing_rows"], hr["store_extra_rows"])
    # the history a read-heavy dashboard asks for is stable, so its answers
    # in the window must equal the reference; live answers change as lines land
    gate.dashboard(dash.records, expected, ws if pre else None, hr["maintains"])
    gate.final(answers, expected)
    gate.catalog(w["catalog"], {o["name"]: o["error"] for o in hr["ops"]}, oracle_result)
    if carbon.error:
        gate.count(0, 1, f"carbon sender: {carbon.error}")

    # ---- freshness: a probe line is fresh once the first answer shows it
    shown = [(r["recv"], r["seq"]) for r in dash.records if r["seq"] is not None]
    fresh = []
    for s in window_probes:
        first = next((t for t, n in shown if n >= s), None)
        if first is not None:
            fresh.append(first - (t0 + feed.probes[s]))
    gate.probes(len(window_probes), len(window_probes) - len(fresh))
    for f in gate.failures:
        log(f"CHECK FAILED {f}")

    rec.update(harness=hr, ws=ws, we=we, freshness_s=fresh, dashboard=dash.records,
               carbon_sent=carbon.sent, carbon_late_ms=carbon.late_ms,
               mismatch_during_maintain=gate.mismatch_during_maintain,
               setup_s=ws - t_setup)
    e2e = report.end_to_end(rec)
    # the untraced runs of this workload on these exact sources: the
    # baseline of the tracing overhead
    history = os.path.join(bdir, f"untraced-{args.workload}-{stamp[:16]}.jsonl")
    keep = os.path.join(bdir, f"last-{args.workload}-trace{args.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    if args.trace:
        with open(os.path.join(run_dir, "spans.json")) as f:
            rec["spans"] = json.load(f) + [
                {"name": "http." + r["q"].split(" ")[0], "start_us": int(r["sent"] * 1e6),
                 "end_us": int(r["recv"] * 1e6), "parent": "", "req": f"d{i}"}
                for i, r in enumerate(dash.records)]
        with open(os.path.join(keep, "spans.json"), "w") as f:
            json.dump(rec["spans"], f)
        untraced = []
        if os.path.exists(history):
            with open(history) as f:
                untraced = [json.loads(l) for l in f if l.strip()]
        overhead = report.trace_overhead(e2e, untraced)
        if overhead is None:
            log("tracing overhead: not measured, no untraced run of these sources "
                "in .bench_build yet")
        else:
            log(f"tracing overhead (traced minus the median of {len(untraced)} untraced "
                f"runs): {json.dumps(overhead)}")
        with open(os.path.join(keep, "overhead.json"), "w") as f:
            json.dump({"untraced_runs": len(untraced), "overhead": overhead}, f)
        metrics = report.per_layer(rec)
    else:
        with open(history, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        metrics = e2e
    shutil.copy(os.path.join(run_dir, "result.json"), keep)
    shutil.copy(os.path.join(run_dir, "harness.log"), keep)
    shutil.copy(os.path.join(run_dir, "oracle_check.txt"), keep)
    shutil.rmtree(run_dir, ignore_errors=True)
    watchdog.cancel()
    correct = gate.failed == 0
    print(report.render(correct, gate.attempted, gate.failed, metrics, E2E_UNITS))
    return 0 if correct else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        log("run from the root of a graft checkout: no build.sbt or src/main/scala here")
        return 2
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
