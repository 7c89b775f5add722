"""The correctness gate. Every miss counts as one failed operation against the
operations attempted; `Gate.failures` names each one."""
import json

from gen import PROBE_QUERY


def parse_metrics(body):
    d = json.loads(body)
    return {"from": d["from"], "to": d["to"], "step": d["step"], "series": d["series"]}


def parse_paths(body):
    return [[e["path"], e["depth"], e["leaf"]] for e in json.loads(body)]


def matches(q, body, expected):
    """True when an HTTP body equals the reference answer for query q."""
    want = expected[q]
    try:
        if q.startswith("metrics"):
            return parse_metrics(body) == {k: want[k] for k in ("from", "to", "step", "series")}
        return parse_paths(body) == want["paths"]
    except (ValueError, KeyError):
        return False


def oracle_verdicts(report, returncode, names):
    """{op: None | reason} from `tools/oracle_check.py`'s report and exit
    code: an op passes only on its `ok` line (a `CLOSE` match within 1e-9 is
    a failure there, and so here); a failing exit with no failing line fails
    every op."""
    seen = {}
    for line in report.splitlines():
        tag, _, rest = line.partition(" ")
        name = rest.strip().split(":")[0]
        if tag == "ok":
            seen[name] = None
        elif tag in ("FAIL", "CLOSE"):
            seen[name] = line
    out = {n: seen.get(n, "no verdict from tools/oracle_check.py") for n in names}
    if returncode != 0 and not any(out.values()):
        out = {n: f"tools/oracle_check.py exited {returncode}" for n in names}
    return out


def overlaps(a0, a1, intervals_ms):
    """Does the request interval [a0, a1] (s) overlap any maintain() (ms)?"""
    return any(a0 * 1000.0 < m1 and m0 < a1 * 1000.0 for m0, m1 in intervals_ms)


class Gate:
    def __init__(self):
        self.attempted, self.failed, self.failures = 0, 0, []
        self.mismatch_during_maintain = 0

    def count(self, n, bad, what):
        self.attempted += n
        if bad:
            self.failed += bad
            self.failures.append(what)

    def lines(self, wellformed, malformed, received_ok, received_fail):
        """The listener accepted every well-formed line and rejected every
        malformed one."""
        self.count(wellformed + malformed,
                   abs(wellformed - received_ok) + abs(malformed - received_fail),
                   f"listener ok/fail {received_ok}/{received_fail}, "
                   f"sent {wellformed}/{malformed}")

    def store(self, missing_rows, extra_rows):
        """The drained store equals the reference rollup of the sent points."""
        self.count(1, 1 if missing_rows or extra_rows else 0,
                   f"store: {missing_rows} reference rows missing, {extra_rows} extra")

    def dashboard(self, records, expected, compare_after, maintains):
        """Every request answered 200; answers sent from `compare_after` on
        (None: not compared) equal the reference, except the probe's (the
        probe path is live) and except that a mismatch overlapping a
        maintain() is counted apart, not as a failure."""
        for r in records:
            if r["status"] != 200:
                self.count(1, 1, f"{r['q']}: HTTP {r['status']}")
            elif (compare_after is not None and r["sent"] >= compare_after
                  and r["q"] != PROBE_QUERY and not matches(r["q"], r["body"], expected)):
                if overlaps(r["sent"], r["recv"], maintains):
                    self.attempted += 1
                    self.mismatch_during_maintain += 1
                else:
                    self.count(1, 1, f"{r['q']}: answer differs from the reference")
            else:
                self.attempted += 1

    def final(self, answers, expected):
        """After the drain, every (query, status, body) equals the reference."""
        for q, status, body in answers:
            self.count(1, 0 if status == 200 and matches(q, body, expected) else 1,
                       f"final {q}: answer differs from the reference")

    def probes(self, window_probes, never_visible):
        self.count(window_probes, never_visible,
                   f"{never_visible} probe lines never became visible")

    def catalog(self, names, op_errors, oracle_result):
        """Each op ran without throwing and matched its DuckDB oracle."""
        for name in names:
            self.count(1, 1 if op_errors.get(name) else 0,
                       f"op {name} threw: {str(op_errors.get(name))[:200]}")
            self.count(1, 1 if oracle_result.get(name) else 0,
                       f"op {name} vs oracle: {str(oracle_result.get(name))[:200]}")
