"""The load generator: one process, separate from the engine, that drives
the engine's HTTP surface and reports what it saw.

It speaks JSON lines: commands on stdin, one reply per command on stdout.

- on start it builds every body of the run (``--bodies`` timed bodies and
  ``WARM_BODIES`` warm-up bodies) from ``--seed`` and replies
  ``{"ready": ...}``;
- ``{"cmd": "warm", "url": U}`` POSTs the warm-up bodies one after
  another;
- ``{"cmd": "post", "url": U}`` runs the open loop: timed body ``k`` is
  due ``k / POST_RATE`` seconds after the start and goes out on one of at
  most ``THREADS`` connections; each latency is taken from the due time;
- ``{"cmd": "query", "base": B, "requests": [[path, params], ...],
  "seconds": S, "block": K}`` runs a closed loop with one client over the
  Prometheus query API, for ``S`` seconds rounded up to whole blocks of
  ``K`` requests;
- ``{"cmd": "exit"}`` ends the process.

Usage (normally started by ``run.py``)::

    python3 perfbench/loadgen.py --seed 1 --bodies 40
"""

from __future__ import annotations

import argparse
import concurrent.futures as cf
import http.client
import json
import os
import sys
import time
import urllib.parse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import bodies as B  # noqa: E402

THREADS = min(4, os.cpu_count() or 1)  # connections of the open loop


def _request(url: str, method: str = "GET", body: bytes | None = None,
             timeout: float = 60.0) -> tuple[int | None, bytes]:
    """One request on a fresh connection; ``(None, b"")`` when the
    connection drops before a status line arrives."""
    u = urllib.parse.urlsplit(url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=timeout)
    try:
        path = u.path + (f"?{u.query}" if u.query else "")
        headers = {}
        if body is not None:
            headers = {"Content-Type": "application/x-protobuf",
                       "Content-Encoding": "snappy",
                       "X-Prometheus-Remote-Write-Version": "0.1.0"}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException):
        return None, b""
    finally:
        conn.close()


class Generator:
    def __init__(self, seed: int, n_bodies: int):
        period_ms = 1000.0 / B.POST_RATE
        universe = B.Universe(seed)
        # Timed body k is stamped with its due time on a timeline starting
        # at BASE_MS; warm-up bodies sit just before it.
        self.timed = [
            B.make_body(universe, seed, k, B.BASE_MS + round(k * period_ms))
            for k in range(n_bodies)
        ]
        self.warm = [
            B.make_body(universe, seed, -1 - j, B.BASE_MS - round((j + 1) * period_ms))
            for j in range(B.WARM_BODIES)
        ]

    def post_warm(self, url: str) -> dict:
        statuses = [_request(url, "POST", body)[0] for body, _, _ in self.warm]
        return _expected(self.warm, statuses)

    def post_open_loop(self, url: str) -> dict:
        period = 1.0 / B.POST_RATE
        start = time.perf_counter() + 0.05

        def send(k: int):
            due = start + k * period
            began = time.perf_counter()
            status, _ = _request(url, "POST", self.timed[k][0])
            done = time.perf_counter()
            return status, (done - due) * 1000.0, (began - due) * 1000.0

        futures = []
        with cf.ThreadPoolExecutor(max_workers=THREADS) as pool:
            for k in range(len(self.timed)):
                delay = start + k * period - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                futures.append(pool.submit(send, k))
            results = [f.result() for f in futures]
        statuses = [r[0] for r in results]
        out = _expected(self.timed, statuses)
        out["latency_ms"] = [r[1] for r in results]
        out["lag_ms"] = [r[2] for r in results]
        out["wall_s"] = time.perf_counter() - start
        return out


def _expected(sent, statuses) -> dict:
    """What the sink must receive: the samples of every accepted body."""
    ok = [s == 200 for s in statuses]
    return {
        "statuses": statuses,
        "samples_attempted": sum(n for _, n, _ in sent),
        "samples_accepted": sum(n for (_, n, _), good in zip(sent, ok) if good),
        "checksum": sum(c for (_, _, c), good in zip(sent, ok) if good) % (1 << 64),
        "body_bytes": sum(len(b) for b, _, _ in sent),
    }


def query_closed_loop(base: str, requests: list, seconds: float, block: int) -> dict:
    """Send each ``[path, params]`` after the previous answer arrived,
    stopping at the first multiple of ``block`` requests once ``seconds``
    have passed."""
    latencies, statuses, answers = [], [], []
    start = time.perf_counter()
    for i, (path, params) in enumerate(requests):
        if i % block == 0 and i and time.perf_counter() - start >= seconds:
            break
        url = f"{base}{path}?{urllib.parse.urlencode(params)}"
        t0 = time.perf_counter()
        status, payload = _request(url)
        latencies.append((time.perf_counter() - t0) * 1000.0)
        statuses.append(status)
        try:
            answers.append(json.loads(payload) if status == 200 else None)
        except ValueError:
            answers.append(None)
    return {"latency_ms": latencies, "statuses": statuses, "answers": answers}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--bodies", type=int, required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    gen = Generator(args.seed, args.bodies)
    print(json.dumps({"ready": True, "gen_s": time.perf_counter() - t0}), flush=True)
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "exit":
            return
        if cmd["cmd"] == "warm":
            reply = gen.post_warm(cmd["url"])
        elif cmd["cmd"] == "post":
            reply = gen.post_open_loop(cmd["url"])
        elif cmd["cmd"] == "query":
            reply = query_closed_loop(cmd["base"], cmd["requests"], cmd["seconds"], cmd["block"])
        else:
            reply = {"error": f"unknown command {cmd['cmd']!r}"}
        print(json.dumps(reply), flush=True)


if __name__ == "__main__":
    main()
