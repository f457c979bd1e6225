"""Open-loop changefeed generator: one process, one connection at a time,
separate from the system under test.

POST ``i`` is due at ``t0 + i / rate``. The generator sleeps until each
due time and sends then; when a POST returns late it sends the next one
at once and records how late it ran, so the schedule never stretches to
match the server (no coordinated omission). It stops after the POST in
flight when it receives SIGTERM, then writes its log: every POST's due,
send and ack times, HTTP status and body digest, plus its own
last-write-wins model of the final target.

Usage: python3 loadgen.py --port P --seed S --rate R --muts M
                          --rows N --hlc0 H --out gen.json
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402

PATH = "/public/2026-01-01/202601010000000000000000000-gen-1-2-3-t-1.ndjson"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--muts", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--hlc0", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    feed = datagen.Feed(args.seed, args.rows, args.hlc0)
    posts = []
    conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=30)
    t0 = time.time()
    parent = os.getppid()
    i = 0
    while not stop and os.getppid() == parent:  # stop if orphaned, too
        due = t0 + i / args.rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
            if stop:
                break
        body = feed.body(args.muts)  # body i; rendering takes well under 1 ms
        sent = time.time()
        try:
            conn.request("POST", PATH, body=body.encode(),
                         headers={"Content-Type": "application/x-ndjson"})
            resp = conn.getresponse()
            resp.read()  # the receiver speaks HTTP/1.0: the next request reconnects
            status = resp.status
        except (OSError, http.client.HTTPException):
            status = 0
            conn.close()
        posts.append({
            "seq": i, "due": due, "sent": sent, "acked": time.time(), "status": status,
            "sha": hashlib.sha256(body.encode()).hexdigest(),
        })
        i += 1
    conn.close()
    # The model counts only bodies the receiver accepted: a refused body
    # never reached the spool, so it must not reach the target either.
    accepted = [p["seq"] for p in posts if p["status"] == 200]
    model = feed.model(datagen.target_rows(args.rows), accepted)
    with open(args.out + ".tmp", "w") as f:
        json.dump({"posts": posts, "model": [[k, v, n] for k, (v, n) in model.items()]}, f)
    os.rename(args.out + ".tmp", args.out)


if __name__ == "__main__":
    main()
