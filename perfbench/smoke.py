"""Smoke test of the benchmark at a tiny size: each workload still exercises
the layers it exists for, and its outputs pass their checks.

    python3 perfbench/smoke.py

Runs every workload once with ``--size smoke --trace 1`` and asserts on what
the traced run observed of the program (the ``path`` and ``spans`` of its
trace line):

- ``transcript_build`` plans no Python node for ``docs_to_triples`` (the
  compiled triples path) and its exact canonicalization fallback (the
  ``applyInPandas`` node under ``canonical_labels``) returns no row;
- ``jsonld_corpus`` plans a Python node (the Arrow kernel), its exact
  fallback labels exactly the blank nodes of the gadget documents, it
  quarantines exactly its invalid documents, and it opens no ``transcripts``
  or ``linking`` span.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload: str) -> tuple[dict, dict, dict, set]:
    """(input properties, per-layer metric values, observed path, layers
    with a span)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--size", "smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]
    result = lines[-1]
    assert result["correct"] and result["failed"] == 0, proc.stderr[-2000:]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    traces = [line["trace"] for line in lines if "trace" in line]
    layers = {span[1] for t in traces for span in t["spans"]}
    return lines[0]["inputs"], metrics, traces[-1]["path"], layers


def main() -> int:
    _, m, path, layers = traced_run("transcript_build")
    assert path["python_plan_nodes"] == 0, path
    assert path["exact_labels"] == 0, path
    assert {"transcripts", "linking", "expand_stage", "canonicalize", "pipeline",
            "nquads_io", "fromrdf_stage", "frame_stage", "kg_query"} <= layers, layers
    assert m["pipeline.delta_docs"] > 0

    inputs, m, path, layers = traced_run("jsonld_corpus")
    assert path["python_plan_nodes"] >= 1, path
    assert path["exact_plan_nodes"] >= 1 and path["exact_labels"] == path["gadget_bnodes"] > 0, path
    assert m["expand_stage.quarantined_docs"] == inputs["invalid_docs"] > 0
    assert not layers & {"transcripts", "linking"}, layers
    print("perfbench smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
