"""Single-task hot-stage audit.

Runs registry queries at a given SF and samples active stages (50ms)
during a warm timed pass, flagging stages that (a) run with one task
and (b) stay active >= 1s — the signature of compute pushed into a
one-split scan or an AQE-coalesced quadratic stage. These are exactly
the shapes that waste a 32-core local box and signal a lost
parallelism contract at scale.

KNOWN FALSE-POSITIVE CLASS (r06 adjudication): at toy SF, AQE
legitimately coalesces a SMALL final model/total aggregate (vocab-sized
hash aggs in lm-score/pmi, the one-row V aggregate, tiny broadcast
builds) down to one partition — that single task is the right plan for
kilobytes of post-partial data and would fan back out at real scale
where the partial outputs are large. Symptom: the flag set varies
between back-to-back runs (lm_ppl_bigram / pmi_collocations /
lsh_join_incremental drift in and out around the 1s threshold) while
genuine lost-parallelism cases (a fat compute on a one-split SCAN of
the raw input) flag deterministically. Adjudicate a flag by asking
whether the stage reads the INPUT lineage (real problem — fix with
operators.util.spread) or post-aggregation kilobytes (AQE working as
designed; the one pinned example is vec_quantize, whose no-spread
choice is a measured docstring'd trade in operators/similarity.py).

Usage: python scripts/stage_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from ksml_spark import get_spark  # noqa: E402


def audit(spark, fn, sf_dir):
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # warm
    sc = spark.sparkContext
    samples = []
    stop = threading.Event()

    def sampler():
        st = sc.statusTracker()
        while not stop.is_set():
            for sid in st.getActiveStageIds():
                info = st.getStageInfo(sid)
                if info:
                    samples.append((time.time(), sid, info.numTasks))
            time.sleep(0.05)

    th = threading.Thread(target=sampler)
    th.start()
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    total = time.time() - t0
    stop.set()
    th.join()
    first, last, ntasks = {}, {}, {}
    for ts, sid, nt in samples:
        first.setdefault(sid, ts)
        last[sid] = ts
        ntasks[sid] = nt
    hot = [
        (sid, ntasks[sid], round(last[sid] - first[sid], 2))
        for sid in sorted(first)
        if ntasks[sid] == 1 and last[sid] - first[sid] >= 1.0
    ]
    return total, hot


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    spark = get_spark()
    flagged = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            total, hot = audit(spark, fn, sf_dir)
        except Exception as e:
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            continue
        tag = "FLAG " if hot else "ok   "
        print(f"{tag}{name}: {total:.2f}s"
              + (f" single-task hot stages {hot}" if hot else ""),
              flush=True)
        if hot:
            flagged.append(name)
    print(f"\nflagged: {flagged}")


if __name__ == "__main__":
    main()
