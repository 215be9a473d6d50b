"""Recompute pins.json: the expected results of the query_llm queries.

    python3 perfbench/make_pins.py

The queries read the sf0.01 ``documents`` and ``embeddings`` tables stored
under ``perfbench/sf0.01``, so their results can be pinned once. Each pin
is the query's DuckDB oracle result (from the engine's registry) in the
engine's canonical form, hashed; d14's oracle alone takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import workloads as W  # noqa: E402


def main() -> None:
    queries = {}
    for q in W.LLM_QUERIES:
        t = time.perf_counter()
        rows, digest = W.oracle_hashes(W.SF_DIR, [q])[q]
        queries[q] = {"rows": rows, "sha1": digest}
        print(f"{q} {rows} {digest} {time.perf_counter() - t:.1f}s", flush=True)
    with open(W.PINS, "w") as f:
        json.dump({"data_sha1": W.data_hash(), "queries": queries}, f, indent=2)
        f.write("\n")


if __name__ == "__main__":
    main()
