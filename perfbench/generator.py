"""Open-loop load generator for ``dau_live``, run as its own process.

    python3 perfbench/generator.py PLAN.json

The plan (written by the benchmark before the timed region) lists the
staged ODS log slices with their due landing times and the
``/dauRealtime`` reads with their due send times and days. The
generator keeps that schedule whatever the engine does:

- the main thread lands each slice at its due time by an atomic rename
  into the watched directory, so the file source never sees a partial
  file;
- ``threads`` workers (the plan's connections, never more than the
  machine's cores; one connection each) take reads in due order, wait
  for the due time and send. A read that finds every
  worker busy goes out late, and its latency still counts from its due
  time.

When the schedule is done it writes every landing and read record to
the plan's ``out`` path (atomically) and exits.
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time


def land_slices(slices: list[dict], landing: str, records: list) -> None:
    for s in slices:
        delay = s["due"] - time.time()
        if delay > 0:
            time.sleep(delay)
        dst = os.path.join(landing, os.path.basename(s["src"]))
        os.rename(s["src"], dst)
        records.append({"k": s["k"], "due": s["due"], "landed": time.time()})


def get(port: int, td: str) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", f"/dauRealtime?td={td}")
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, (json.loads(data) if resp.status == 200 else None)
    finally:
        conn.close()


def summarize(body: dict) -> dict:
    """The parts of a response the benchmark checks."""
    return {
        "total": body["dauTotal"],
        "td_sum": sum(body["dauTd"].values()),
        "yd_sum": sum(body["dauYd"].values()),
    }


def read_worker(port: int, reads: list[dict], lock: threading.Lock, cursor: list, records: list) -> None:
    while True:
        with lock:
            i = cursor[0]
            if i >= len(reads):
                return
            cursor[0] = i + 1
        r = reads[i]
        delay = r["due"] - time.time()
        if delay > 0:
            time.sleep(delay)
        sent = time.time()
        try:
            status, body = get(port, r["td"])
            rec = {"status": status, **(summarize(body) if body else {})}
        except (OSError, http.client.HTTPException, ValueError, KeyError) as e:
            rec = {"status": -1, "error": repr(e)}
        rec.update(i=i, td=r["td"], due=r["due"], sent=sent, done=time.time())
        records.append(rec)


def main(plan_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    landed: list = []
    reads: list = []
    lock, cursor = threading.Lock(), [0]
    workers = [
        threading.Thread(target=read_worker, args=(plan["port"], plan["reads"], lock, cursor, reads))
        for _ in range(plan["threads"])
    ]
    for t in workers:
        t.start()
    land_slices(plan["slices"], plan["landing"], landed)
    for t in workers:
        t.join()
    tmp = plan["out"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"landed": landed, "reads": sorted(reads, key=lambda r: r["i"])}, f)
    os.replace(tmp, plan["out"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
