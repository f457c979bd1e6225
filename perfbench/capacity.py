"""One-off capacity measurement behind ``replicate.RATE``.

    python3 perfbench/capacity.py [--seed N] [--bodies B]

Runs the ``replicate_steady`` pipeline (same target, same applier) on a
backlog instead of an open loop: spools ``--bodies`` changefeed bodies of
``replicate.MUTS`` mutations through the same ``WebhookReceiver``, then
drains them with an ``availableNow`` trigger. A small drain first warms
the session. Prints, for the warm-up and the timed drain, the mutations,
micro-batches and applied mutations per second (mutations over last
commit minus stream start). Not part of the benchmark's runs.
"""

from __future__ import annotations

import argparse
import http.client
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import log  # noqa: E402


def _spool(port: int, feed, bodies: int, muts: int) -> None:
    import loadgen

    for _ in range(bodies):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("POST", loadgen.PATH, body=feed.body(muts).encode(),
                     headers={"Content-Type": "application/x-ndjson"})
        resp = conn.getresponse()
        resp.read()
        conn.close()
        if resp.status != 200:
            raise RuntimeError(f"POST refused: {resp.status}")


def _drain(spark, d, applier, replicate) -> tuple[int, float]:
    """Drain what is spooled; returns (micro-batches, seconds from start
    to the last commit)."""
    n = []
    t0 = time.time()
    q = replicate.start_stream(spark, d, lambda b, i: (applier(b, i), n.append(i)), available_now=True)
    q.awaitTermination()
    return len(n), max(replicate._commit_times(d["ckpt"]).values()) - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--bodies", type=int, default=2000)
    args = ap.parse_args()

    work = os.path.join(harness.repo_root(), ".perfbench", f"capacity-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.prepare_env(work)
    import datagen
    import replicate

    try:
        spark = harness.start_session()
        from cdc_sink_spark.sources import webhook

        d, applier = replicate.open_pipeline(spark, work, replicate.initial_target(spark))
        rx = webhook.WebhookReceiver(d["spool"]).start()
        feed = datagen.Feed(args.seed, replicate.N_ROWS, datagen.hlc_now())
        for label, bodies in (("warm-up", 50), ("drain", args.bodies)):
            _spool(rx.port, feed, bodies, replicate.MUTS)
            batches, secs = _drain(spark, d, applier, replicate)
            muts = bodies * replicate.MUTS
            log(f"{label}: {muts} mutations in {batches} micro-batch(es), {secs:.2f} s, "
                f"{muts / secs:.0f} applied/s")
        rx.stop()
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
