"""Compute one run's expected answers in a process of their own.

    python3 perfbench/expect.py SPEC.json OUT.json

SPEC holds ``seed``, ``workload``, the input ``paths`` and ``ids`` (row
index -> docId); OUT receives :func:`perfbench.inputs.expectations`.
``perfbench/run.py`` starts this before its timed part, so the oracle's
memory never counts in the program's RSS.
"""

from __future__ import annotations

import json
import os
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

from perfbench.inputs import expectations  # noqa: E402


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    ids = {int(row): doc_id for row, doc_id in spec["ids"].items()}
    exp = expectations(spec["seed"], spec["workload"], spec["paths"], ids)
    with open(out_path, "w") as f:
        json.dump(exp, f)


if __name__ == "__main__":
    main(*sys.argv[1:])
