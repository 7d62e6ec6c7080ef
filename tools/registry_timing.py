"""Timed noop-sink sweep over the FULL registry — the cost ranking that
decides where optimization effort goes (guide §1: measure first).

Each query: one untimed warmup (codegen/footers), then N timed reps with
the cache cleared between reps (same discipline as bench.py), reporting
the min (closest to a quiet host on a noisy VM).

Run: python tools/registry_timing.py [sf_dir] [out.jsonl] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tlcn_oer_lakehouse_spark.queries import REGISTRY  # noqa: E402
from tlcn_oer_lakehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/registry_timing.jsonl"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark(app_name="registry_timing")
    done = set()
    if os.path.exists(out_path):  # resumable; retry rows that errored
        with open(out_path) as f:
            kept = [row for row in map(json.loads, f) if "err" not in row]
        # rewrite without the err rows so a retried name keeps one row
        with open(out_path, "w") as f:
            f.writelines(json.dumps(row) + "\n" for row in kept)
        done = {row["name"] for row in kept}
    with open(out_path, "a") as f:
        for name, spec in sorted(REGISTRY.items()):
            if name in done:
                continue
            spark.sparkContext.setJobDescription(f"time:{name}")
            try:
                spec.builder(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                ts = []
                for _ in range(reps):
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    spec.builder(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    ts.append(time.perf_counter() - t0)
                row = {"name": name, "min": round(min(ts), 3), "reps": [round(t, 3) for t in ts]}
            except Exception as exc:  # noqa: BLE001
                row = {"name": name, "err": f"{type(exc).__name__}: {exc}"[:300]}
            finally:
                spark.catalog.clearCache()
            f.write(json.dumps(row) + "\n")
            f.flush()
    rows = [json.loads(l) for l in open(out_path)]
    ok = [r for r in rows if "err" not in r]
    ok.sort(key=lambda r: -r["min"])
    print(f"timed {len(ok)}/{len(rows)}; top 25 by min-rep seconds:")
    for r in ok[:25]:
        print(f"  {r['name']}: {r['min']}")
    spark.stop()


if __name__ == "__main__":
    main()
