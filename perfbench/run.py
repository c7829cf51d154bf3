"""Link-graph benchmark for ``cminer_spark``.

Run from the root of a checkout that holds ``cminer_spark/``:

    python3 perfbench/run.py --workload analytics --seed 7 --seconds 8 --trace 0

Prints a detail line, then, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics. Exits
non-zero without a result when ``cminer_spark`` is not next to
``perfbench/``. Workloads and metrics are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOAD_NAMES = ("ingest", "analytics")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="multiply every input size (the benchmark's own tests use a small scale)",
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cminer_spark" / "__init__.py").is_file():
        print(f"cminer_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # Python workers import cminer_spark (and the benchmark's Arrow
    # probe) from the checkout; the settings below would otherwise
    # change the session the program builds.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    for var in ("CMINER_DRIVER_MEM", "CMINER_SPARK_MASTER", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(var, None)
    sys.path.insert(0, str(ROOT))
    from perfbench.harness import main_run

    return main_run(ROOT, args)


if __name__ == "__main__":
    sys.exit(main())
