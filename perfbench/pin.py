"""Pin the fingerprint of every benchmark query into fingerprints.json.

    python3 perfbench/pin.py [--data DIR] [query ...]

A pin records what the engine returns, not what is right: first confirm
the queries against their DuckDB twins with
``python3 scripts/check_oracle.py DIR query...``. Each query runs twice in
one session (the second run after its caches are freed), and the pin is
written only when both fingerprints agree.
"""

from __future__ import annotations

import argparse
import json
import sys

import run as bench


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--data", default=bench.SPEC["data_dir"])
    ap.add_argument("queries", nargs="*", default=bench.all_queries())
    args = ap.parse_args()
    pins = bench.load_pins()
    work = bench.Workdir()
    try:
        runner = bench.Runner({q: [] for q in args.queries}, args.data, 0, work, pins)
        runner.spark = bench.start_session(runner.conf)
        fps = {}
        for q in args.queries:
            got = [runner.execute(q).get("fingerprint") for _ in range(2)]
            if got[0] is None or got[0] != got[1]:
                print(f"pin: {q} is not repeatable: {got}", file=sys.stderr)
                return 1
            fps[q] = got[0]
        bench.stop_jvm(runner.spark)
    finally:
        work.close()
    pins.setdefault(bench.data_key(args.data), {}).update(fps)
    with open(bench.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(fps, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
