"""Closed-loop HTTP clients for the ``serve`` workload.

``CLIENTS`` threads each act as a map viewer that waits for every reply
before sending its next request. Threads take requests in order from one
shared seeded stream (``--requests``, written by ``workload.py``), stop
issuing after ``--seconds`` and write one record per completed request.

    python3 perfbench/client.py --port 8080 --requests reqs.json \
        --seconds 12 --result out.json
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import threading
import time

CLIENTS = 2


def fetch(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def record(kind: str, path: str, arg, status: int, body: bytes, ms: float) -> dict:
    rec = {"kind": kind, "path": path, "status": status, "ms": ms}
    if kind == "tile" and status == 200:
        rec["sha1"] = hashlib.sha1(body).hexdigest()
    elif kind == "bbox" and status == 200:
        min_lon, min_lat, max_lon, max_lat = arg[:4]
        feats = json.loads(body)["features"]
        rec["count"] = len(feats)
        rec["outside"] = sum(
            not (min_lon <= f["geometry"]["coordinates"][0] <= max_lon
                 and min_lat <= f["geometry"]["coordinates"][1] <= max_lat)
            for f in feats)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--requests", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    with open(args.requests) as f:
        reqs = json.load(f)
    lock = threading.Lock()
    nxt = [args.offset]
    records: list[dict] = []
    deadline = time.perf_counter() + args.seconds

    def viewer() -> None:
        mine = []
        while time.perf_counter() < deadline:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            kind, path, arg = reqs[i % len(reqs)]
            t0 = time.perf_counter()
            try:
                status, body = fetch(args.port, path)
            except OSError:
                status, body = -1, b""
            ms = (time.perf_counter() - t0) * 1e3
            mine.append(record(kind, path, arg, status, body, ms))
        with lock:
            records.extend(mine)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=viewer) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    window = time.perf_counter() - t0
    with open(args.result, "w") as f:
        json.dump({"window_s": window, "records": records}, f)


if __name__ == "__main__":
    main()
