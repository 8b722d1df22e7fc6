#!/usr/bin/env python3
"""One-time bridge from this benchmark's sampled, noop-materialized query
time to whole query families and to the ``count()`` time that ``bench.py``
reports. For every query of the families of ``olap_sf01`` and
``llm_prep_sf01``, after one warm-up run, time build + ``count()`` and build
+ ``noop`` write once each, then print per module the median noop time over
the whole families beside that of the benchmark's sample. Run from the root
of a checkout (it takes about 8 minutes):

    python3 perfbench/bridge.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as R  # noqa: E402
import workloads as W  # noqa: E402
from measure import layer_of_module  # noqa: E402


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def main() -> int:
    os.makedirs(os.path.join(R.ROOT, ".perfbench"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=os.path.join(R.ROOT, ".perfbench"))
    R.prepare_env(R.ROOT, tmp, trace=False)
    spark, _ = R.setup_round(None, 0)
    try:
        from conceptnetwork_spark import registry

        fns = registry.queries()
        for name in ("olap_sf01", "llm_prep_sf01"):
            wl = W.QUERY_WORKLOADS[name]
            sample = set(W.workload_queries(fns, wl))
            count_s, noop_s, failed = {}, {}, []
            for q in sorted(q for q in fns if q[:3] in wl.families):
                build = fns[q]
                try:
                    build(spark, W.SF_DIR).write.format("noop").mode("overwrite").save()
                    count_s[q] = timed(lambda: build(spark, W.SF_DIR).count())
                    noop_s[q] = timed(lambda: build(spark, W.SF_DIR).write.format("noop").mode("overwrite").save())
                except Exception as ex:  # a family query the sample does not hold may fail
                    failed.append(f"{q} ({type(ex).__name__})")
            print(
                f"{name}: {len(noop_s)} family queries, count() {sum(count_s.values()):.1f} s,"
                f" noop {sum(noop_s.values()):.1f} s, noop/count() {sum(noop_s.values()) / sum(count_s.values()):.2f};"
                f" sample count() {sum(count_s[q] for q in sample):.2f} s, noop {sum(noop_s[q] for q in sample):.2f} s;"
                f" failed: {', '.join(failed) or 'none'}"
            )
            print(f"{name}: noop p50 family {median(noop_s.values()):.3f} s, sample {median(noop_s[q] for q in sample):.3f} s")
            modules: dict[str, list[str]] = {}
            for q in noop_s:
                modules.setdefault(layer_of_module(fns[q].__module__) or fns[q].__module__, []).append(q)
            for mod, qs in sorted(modules.items()):
                mine = [noop_s[q] for q in qs if q in sample]
                print(
                    f"  {mod}: {len(qs)} queries, noop p50 {median(noop_s[q] for q in qs):.3f} s;"
                    f" sample {' '.join(f'{v:.3f}' for v in mine) or '-'}"
                )
    finally:
        R.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
