"""Open-loop HTTP load generator, run as a process of its own.

Reads one JSON plan from stdin:

    {"port": 8123, "workers": 4, "bodies": [...],
     "arrivals": [[offset_s, path, body_index], ...]}

and sends each arrival at ``offset_s`` after its start, whether or not
earlier requests have finished (open loop). At most ``workers`` requests
are in flight; an arrival that finds every worker busy waits in the
backlog, and that wait counts in its latency, which runs from the moment
the request was due. Writes one JSON object to stdout: per arrival
``[late_s, latency_s, status, reply]`` (``late_s`` is how late the
dispatcher itself handed the request over, so an overloaded generator is not
read as a slow server), the largest backlog seen, the backlog each time an
arrival was dispatched, and this process's CPU seconds.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import sys
import threading
import time


def main() -> int:
    plan = json.load(sys.stdin)
    bodies = [json.dumps(b).encode() for b in plan["bodies"]]
    arrivals = plan["arrivals"]
    results: list = [None] * len(arrivals)
    backlog_at: list = [0] * len(arrivals)
    todo: queue.Queue = queue.Queue()
    lock = threading.Lock()
    state = {"outstanding": 0, "max": 0}
    t0 = time.monotonic() + 0.2

    def send(i: int, due: float, late: float) -> None:
        _, path, body = arrivals[i]
        status, reply = 0, None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", plan["port"], timeout=60)
            conn.request("POST", path, body=bodies[body],
                         headers={"Content-Type": "application/json", "X-Req": str(i)})
            resp = conn.getresponse()
            status, raw = resp.status, resp.read()
            conn.close()
            reply = json.loads(raw)
        except Exception as e:  # noqa: BLE001 - a failed request is a result
            reply = {"client_error": repr(e)}
        results[i] = [late, time.monotonic() - due, status, reply]
        with lock:
            state["outstanding"] -= 1

    def worker() -> None:
        while True:
            item = todo.get()
            if item is None:
                return
            send(*item)

    threads = [threading.Thread(target=worker) for _ in range(plan["workers"])]
    for t in threads:
        t.start()
    for i, (offset, _, _) in enumerate(arrivals):
        due = t0 + offset
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        with lock:
            state["outstanding"] += 1
            state["max"] = max(state["max"], state["outstanding"])
            backlog_at[i] = state["outstanding"]
        todo.put((i, due, time.monotonic() - due))
    for _ in threads:
        todo.put(None)
    for t in threads:
        t.join()
    cpu = os.times()
    json.dump({"results": results, "backlog_max": state["max"], "backlog_at": backlog_at,
               "cpu_s": cpu.user + cpu.system}, sys.stdout)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
