"""Scale-rehearsal runner: time registry gates at an arbitrary SF dir
(default the synthetic 10x corpus at /tmp/pbs_sf1).

The rehearsal discipline (NOTES, every round since r5): before a gate
ships or after its operator changes, run it at 10x the bench scale and
look for walls — six real scale bugs were caught this way (single-task
windows, all-pairs joins in disguise, interpreted HOF folds over 1e8
pairs, prefix-filter collapse, JVM OOM, zipf hot types). This runner
formalizes the ad-hoc scripts: each gate is timed by ``bench.time_gate``
(cold run, then warm med3, with the Python fleet kept alive and pinned
blocks released after every run), and the runner prints row count and
kernel telemetry, with a nonzero exit if any gate's cold run exceeds
``--wall`` seconds (so a rehearsal can gate a commit). The session is
``local[$SPARK_GRAFT_CPUS]`` (default: every CPU of the host), shuffle
partitions 2x that — the ``bench.py`` convention.

Usage:
    python tools/rehearse.py gate_a gate_b ...          # named gates
    python tools/rehearse.py --all                      # whole registry
    python tools/rehearse.py --sf-dir /root/testdata/sf0.1 --wall 120 ...

Gates whose tables are absent from the SF dir (the synthetic corpus has
no nation/region) are reported as SKIP, not failures.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("gates", nargs="*", help="gate names to rehearse")
    ap.add_argument("--all", action="store_true", help="whole registry")
    ap.add_argument("--sf-dir", default="/tmp/pbs_sf1")
    ap.add_argument("--wall", type=float, default=300.0,
                    help="per-gate cold wall-clock budget in seconds")
    ap.add_argument("--skip", nargs="*", default=[],
                    help="gate names to exclude (e.g. documented "
                         "quadratic-by-design verifiers)")
    args = ap.parse_args()

    from bench import time_gate
    from puffbird_spark import get_spark
    from puffbird_spark.queries import QUERIES

    if args.all:
        names = [n for n in QUERIES if n not in set(args.skip)]
    else:
        names = args.gates
    if not names:
        ap.error("no gates: pass names or --all")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    spark = get_spark(
        app_name="puffbird-rehearse",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
    )
    walls: list[str] = []
    for name in names:
        if name not in QUERIES:
            print(f"{name}: UNKNOWN gate", flush=True)
            walls.append(name)
            continue
        try:
            n, cold, samples, kern = time_gate(
                spark, QUERIES[name], args.sf_dir, cpus)
        except Exception as e:  # missing table, fixture-only path, ...
            msg = str(e).splitlines()[0][:100]
            skip = ("PATH_NOT_FOUND" in msg or "cannot resolve" in msg
                    or "UNRESOLVED_COLUMN" in msg)
            print(f"{name}: {'SKIP' if skip else 'ERROR'} {msg}",
                  flush=True)
            if not skip:
                walls.append(name)
            continue
        tag = f" kernels={kern}" if kern else ""
        flag = ""
        if cold > args.wall:
            walls.append(name)
            flag = f"  ** WALL (> {args.wall:.0f}s)"
        print(f"{name}: cold {cold:.2f}s warm {statistics.median(samples):.2f}s"
              f" med3 [{','.join(f'{s:.2f}' for s in sorted(samples))}]"
              f" rows {n}{tag}{flag}", flush=True)
    if walls:
        print(f"\n{len(walls)} gate(s) over budget or failed: {walls}",
              file=sys.stderr)
        return 1
    print(f"\nall {len(names)} rehearsed gates within "
          f"{args.wall:.0f}s at {args.sf_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
