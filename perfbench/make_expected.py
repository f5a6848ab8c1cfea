"""Write ``perfbench/data/expected.json``: the DuckDB oracle digest of every
``query_mix`` query over the fixed tables in ``perfbench/data``.

    python3 perfbench/make_expected.py

Run from the repository root after the fixed tables or a mix query's
oracle SQL change; the benchmark also re-derives a stale entry by itself.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from xspbench import layers, query_mix  # noqa: E402

if __name__ == "__main__":
    data = os.path.join(HERE, "data")
    digests = query_mix.oracle_digests(data, layers.RELATIONAL + layers.DRIVER_LOOP)
    with open(os.path.join(data, query_mix.EXPECTED), "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(digests)} oracle digests")
