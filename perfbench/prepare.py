"""Generate one run's inputs and their oracle digests.

Runs in its own process, before timing starts, so that neither the
generator's nor DuckDB's memory counts against the measured driver:

    python3 perfbench/prepare.py --workload beam_dofn --seed 1 --dir <run dir>

Writes ``<dir>/tables/*.parquet``, ``<dir>/beam/`` (beam_dofn only) and
``<dir>/prepared.json`` holding the declared input row counts and, per
job, the oracle's column names, types, row count and value hash.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen  # noqa: E402
from perfbench.jobs import workload_jobs  # noqa: E402

# Input sizes per workload, chosen so that one warm pass of the mix
# takes a few seconds on a 4-core host.
SCALE = {
    "catalyst_batch": {"sf": 0.01},
    "beam_dofn": {"sf": 0.005, "corpus_lines": 10_000, "kv_rows": 50_000, "kv_keys": 5_000},
}


def prepare(workload: str, seed: int, run_dir: str, scale: dict | None = None) -> dict:
    from tests.oracle_check import duckdb_conn

    scale = scale or SCALE[workload]
    rng = np.random.default_rng(seed)
    tables_dir = os.path.join(run_dir, "tables")
    beam_dir = os.path.join(run_dir, "beam")
    rows = datagen.write_tables(tables_dir, scale["sf"], rng)
    if "corpus_lines" in scale:
        rows.update(datagen.write_beam_inputs(
            beam_dir, rng, scale["corpus_lines"], scale["kv_rows"], scale["kv_keys"]))
    con = duckdb_conn(tables_dir)
    con.sql("SET threads TO 2")
    oracles = {job.name: job.oracle(con, tables_dir, beam_dir) for job in workload_jobs(workload)}
    con.close()
    out = {"rows": rows, "oracles": oracles, "scale": scale}
    with open(os.path.join(run_dir, "prepared.json"), "w") as fh:
        json.dump(out, fh)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--scale", default=None, help="JSON object overriding SCALE[workload]")
    a = ap.parse_args()
    prepare(a.workload, a.seed, a.dir, json.loads(a.scale) if a.scale else None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
