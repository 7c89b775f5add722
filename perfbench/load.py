"""The load generator's senders, timed against a shared start instant `t0`
(wall clock, seconds): the carbon feed is open loop and records how late each
send started relative to its due time; the dashboard is a closed loop that
records each request's send and receive times and which probe sequence each
probe answer shows.
"""
import http.client
import json
import socket
import threading
import time
import urllib.parse

from gen import PROBE, PROBE_QUERY


def sleep_until(t):
    d = t - time.time()
    if d > 0:
        time.sleep(d)


class CarbonSender(threading.Thread):
    """Writes each tick's bytes to its connection at the tick's due time."""

    def __init__(self, port, feed, t0):
        super().__init__(name="carbon", daemon=True)
        self.port, self.feed, self.t0 = port, feed, t0
        self.late_ms = []   # per tick: start of send minus due time
        self.sent = []      # per tick: (wall time after send, cumulative lines)
        self.error = None

    def run(self):
        conns = len(self.feed.ticks[0][1])
        socks = [socket.create_connection(("127.0.0.1", self.port)) for _ in range(conns)]
        try:
            total = 0
            for due, chunks in self.feed.ticks:
                sleep_until(self.t0 + due)
                start = time.time()
                self.late_ms.append((start - self.t0 - due) * 1000.0)
                for s, c in zip(socks, chunks):
                    if c:
                        s.sendall(c)
                        total += c.count(b"\n")
                self.sent.append((time.time(), total))
        except OSError as e:
            self.error = repr(e)
        finally:
            for s in socks:
                s.close()


def metrics_url(paths, frm, to):
    q = [("path", p) for p in paths] + [("from", str(frm)), ("to", str(to))]
    return "/metrics?" + urllib.parse.urlencode(q)


def url_of(query):
    parts = query.split(" ")
    if parts[0] == "metrics":
        return metrics_url(parts[1].split(","), parts[2], parts[3])
    return "/paths?" + urllib.parse.urlencode([("query", parts[1])])


class Http:
    """One keep-alive HTTP connection; reconnects after a failure."""

    def __init__(self, port, timeout=10.0):
        self.port, self.timeout, self.conn = port, timeout, None

    def get(self, url):
        """(status, body bytes); status 0 means the request failed."""
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                       timeout=self.timeout)
            self.conn.request("GET", url)
            r = self.conn.getresponse()
            return r.status, r.read()
        except (OSError, http.client.HTTPException):
            if self.conn is not None:
                self.conn.close()
            self.conn = None
            return 0, b""

    def close(self):
        if self.conn is not None:
            self.conn.close()


def probe_max(body):
    """Newest probe sequence an answer shows (the probe path rolls up by max)."""
    vals = [v for v in json.loads(body)["series"].get(PROBE, []) if v is not None]
    return int(max(vals)) if vals else 0


class Dashboard(threading.Thread):
    """A closed-loop dashboard on one keep-alive connection: it sends the next
    request of `queries` as soon as the previous answer has arrived, from
    `start` until `end`. After `end` it polls only the probe query until an
    answer shows probe `want` (set by the caller) or `grace` seconds pass. Each record holds the query, send/receive wall
    times, status, body, and for probe answers the newest probe seq shown."""

    def __init__(self, port, queries, start, end, grace):
        super().__init__(name="dashboard", daemon=True)
        self.http, self.queries = Http(port), queries
        self.start_at, self.end, self.grace = start, end, grace
        self.records, self.want = [], None

    def get(self, q):
        sent = time.time()
        status, body = self.http.get(url_of(q))
        r = {"q": q, "sent": sent, "recv": time.time(), "status": status, "body": body,
             "seq": probe_max(body) if status == 200 and q == PROBE_QUERY else None}
        self.records.append(r)
        return r

    def run(self):
        sleep_until(self.start_at)
        for q in self.queries:
            if time.time() >= self.end:
                break
            self.get(q)
        while time.time() < self.end + self.grace:
            r = self.get(PROBE_QUERY)
            if self.want is not None and (r["seq"] or 0) >= self.want:
                break
            time.sleep(0.2)
        self.http.close()
