"""Derive ``expected.json``: the output digest of every benchmark query.

    python3 perfbench/make_expected.py

For each query the DuckDB oracle SQL (``blow_spark.queries.oracle_sql``)
runs over the benchmark's fixture tables in a child process bounded by
``ORACLE_TIMEOUT_S``, and the digest of its result is recorded. The Spark
result is digested the same way and compared; a disagreement is recorded
with the oracle's digest, so the benchmark reports the query as failing
rather than hiding it. A query without an oracle, or whose oracle does
not finish in time, stops the script.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402
from perfbench.workloads import WARMUP_QUERY, WORKLOADS  # noqa: E402

ORACLE_TIMEOUT_S = 600
SF = 0.01
DATA_SEED = 42


def oracle_digest(name: str, sf_dir: str) -> dict:
    """Row count and digest of the oracle's result for ``name``."""
    code = (
        "import json, sys; sys.path[:0] = [{root!r}]\n"
        "from blow_spark.oracle import duckdb_run\n"
        "from blow_spark.queries import oracle_sql\n"
        "from perfbench.run import digest\n"
        "print(json.dumps(digest(duckdb_run(oracle_sql()[{name!r}], {sf_dir!r}))))\n"
    ).format(root=run.ROOT, name=name, sf_dir=sf_dir)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S, check=True
    )
    rows, sha = json.loads(out.stdout.strip().splitlines()[-1])
    return {"rows": rows, "sha256": sha}


def spark_digests(names: list[str], sf_dir: str) -> dict[str, dict]:
    """Row count and digest of each query's Spark result, computed in a
    child process with the benchmark's pinned environment."""
    code = (
        "import json, sys; sys.path[:0] = [{root!r}]\n"
        "from perfbench import run\n"
        "run.pin_environment()\n"
        "from blow_spark import get_spark\n"
        "from blow_spark.queries import queries\n"
        "spark, cat = get_spark(), queries()\n"
        "out = {{}}\n"
        "for n in {names!r}:\n"
        "    r, h = run.digest(cat[n](spark, {sf_dir!r}).toPandas())\n"
        "    out[n] = {{'rows': r, 'sha256': h}}\n"
        "print(json.dumps(out))\n"
    ).format(root=run.ROOT, names=names, sf_dir=sf_dir)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = {"sf": SF, "data_seed": DATA_SEED}
    cores = run.pin_environment()
    sf_dir = run.ensure_data(spec)
    names = sorted({WARMUP_QUERY, *(q for qs in WORKLOADS.values() for q in qs)})
    spark = spark_digests(names, sf_dir)
    queries = {}
    for name in names:
        oracle = oracle_digest(name, sf_dir)
        agree = "matches" if oracle == spark[name] else "DIFFERS FROM"
        queries[name] = {**oracle, "source": f"duckdb oracle; Spark local[{cores}] {agree} it"}
        print(name, queries[name]["source"], flush=True)
    with open(run.EXPECTED, "w") as f:
        json.dump({**spec, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
