"""perfbench: one seeded workload of lotus_spark, timed or traced.

    python3 perfbench/run.py --workload semantic_etl --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it holds the run's details (seed, input properties, every
workload-specific figure and, for a traced run, the raw layer totals).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced pass. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = {
    "full": {"etl_rows": 600, "lm_service_s": 0.005,
             "lm_max_batch_size": 16, "corpus_docs": 1000,
             "warm_reads": 8, "refresh_reads": 2, "batch_queries": 4},
    # the benchmark's own smoke test: every path once, in seconds
    "tiny": {"etl_rows": 120, "lm_service_s": 0.001,
             "lm_max_batch_size": 16, "corpus_docs": 300,
             "warm_reads": 2, "refresh_reads": 1, "batch_queries": 2},
}
WORKLOADS = ("semantic_etl", "corpus_refresh")


def workload_class(name: str):
    if name == "semantic_etl":
        from perfbench.etl import SemanticETL
        return SemanticETL
    if name == "corpus_refresh":
        from perfbench.refresh import CorpusRefresh
        return CorpusRefresh
    raise SystemExit(f"unknown workload {name!r}")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import lotus_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import lotus_spark ({e}); run from the "
              "root of a lotus_spark checkout", file=sys.stderr)
        return 2
    from perfbench import common, loop

    # every way out, a SIGTERM too, ends the JVM and the Python workers
    # and waits for them
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.adopt_orphans()
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        details, result = loop.run(
            workload_class(args.workload), args.seed, SIZES[args.size],
            args.seconds, bool(args.trace), work)
    finally:
        common.end_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
