"""Build everything a benchmark run reads, once per checkout.

    python3 perfbench/prepare.py

Builds the sf0.1 corpus and computes the oracle expectation of every
query of every workload, and the pinned result of each known mismatch.
Build times go to ``.perfbench_data/prepared.json``, which marks the data
root as ready; ``run.py`` starts this script in a child process when that
file is missing, so that no run's set-up time includes corpus building and
the measured process still imports the registry cold.
"""

from __future__ import annotations

import json
import os
import time

import common


def prepare() -> dict:
    from velox_hadoop_spark.plans import registry

    import corpus
    from oracle import OracleCache
    from workloads import KNOWN_MISMATCHES, WORKLOADS

    os.makedirs(common.DATA, exist_ok=True)
    sf_dir, sf_s = corpus.ensure_sf(common.DATA)
    specs = registry.specs()
    t0 = time.perf_counter()
    for wl in WORKLOADS.values():
        cache = OracleCache(common.corpus_dir(wl.corpus), os.path.join(common.DATA, "oracle"), common.CPUS)
        try:
            for name in wl.all_queries():
                cache.expected(name, specs[name].oracle)
                if name in KNOWN_MISMATCHES:
                    cache.expected(f"{name}.known", KNOWN_MISMATCHES[name].actual_sql)
        finally:
            cache.close()
    return {
        "sf0.1_build_s": round(sf_s, 3),
        "oracle_build_s": round(time.perf_counter() - t0, 3),
        "tables": corpus.describe(sf_dir),
    }


def main() -> None:
    common.configure_process()
    record = prepare()
    path = os.path.join(common.DATA, "prepared.json")
    with open(path + ".tmp", "w") as f:
        json.dump(record, f, indent=1)
    os.replace(path + ".tmp", path)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
