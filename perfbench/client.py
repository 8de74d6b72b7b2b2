"""Closed-loop HTTP load generator for the records_api workload.

Runs as its own process, apart from the server.  Each client thread
sends its next request only after the previous reply arrived, pulling
requests in order from one shared, seeded list; it stops starting new
requests once ``seconds`` have passed.

    python3 perfbench/client.py <plan.json> <result.json>

plan: {"port", "seconds", "clients", "requests": [{"query": {...}}, ...]}
result: {"results": [{"i", "client", "status", "ms", "bytes", "body" or
"error", "end" (seconds since the start)}]}
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time
from urllib.parse import urlencode


def run(plan: dict) -> dict:
    requests = plan["requests"]
    deadline_s = plan["seconds"]
    lock = threading.Lock()
    cursor = [0]
    results: list[dict] = []
    t0 = time.perf_counter()

    def worker(client: int) -> None:
        while True:
            with lock:
                i = cursor[0]
                cursor[0] += 1
            if i >= len(requests) or time.perf_counter() - t0 >= deadline_s:
                return
            path = "/records?" + urlencode(requests[i]["query"])
            rec: dict = {"i": i, "client": client}
            start = time.perf_counter()
            try:
                conn = http.client.HTTPConnection("127.0.0.1", plan["port"], timeout=120)
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
                rec["ms"] = (time.perf_counter() - start) * 1e3
                rec["status"] = resp.status
                rec["bytes"] = len(body)
                rec["body"] = json.loads(body)
                conn.close()
            except (OSError, http.client.HTTPException, ValueError) as exc:
                rec["ms"] = (time.perf_counter() - start) * 1e3
                rec["status"] = None
                rec["error"] = repr(exc)
            rec["end"] = time.perf_counter() - t0
            with lock:
                results.append(rec)

    threads = [threading.Thread(target=worker, args=(c,)) for c in range(plan["clients"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"results": results}


def main() -> int:
    with open(sys.argv[1]) as fh:
        plan = json.load(fh)
    out = run(plan)
    with open(sys.argv[2], "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
