"""Records ``digests.json``: the order-insensitive output digest of each
named query over the benchmark's inputs, for queries with no DuckDB oracle
or one too slow to run in every benchmark run.

An output with an oracle is first checked against it (however long that
takes), so its digest is only recorded for a verified output.

Usage: ``python3 perfbench/record_digests.py QUERY [QUERY ...]``
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run
from verify import DIGESTS, Verifier, frame_digest, load_digests


def main(names: list[str]) -> int:
    sf_dir = run.ensure_data()
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    run_tmp = tempfile.mkdtemp(prefix="record-", dir=os.path.join(run.WORK, "tmp"))
    try:
        run.confine_temp_files(run_tmp)
        spark, entry = run.start_session(run_tmp)
        digests = load_digests()
        verifier = Verifier(sf_dir, entry.oracle_sql(), {})
        registry = entry.queries()
        bad = 0
        for name in names:
            pdf = registry[name](spark, sf_dir).toPandas()
            problems = (verifier.check(name, pdf)
                        if name in verifier.oracles else [])
            if problems:
                bad += 1
                print(f"{name}: NOT recorded: {problems}", file=sys.stderr)
                continue
            digests[name] = frame_digest(pdf)
            print(f"{name}: {digests[name]}")
        verifier.close()
        run.stop_session(spark)
        with open(DIGESTS, "w") as fh:
            json.dump(dict(sorted(digests.items())), fh, indent=1)
            fh.write("\n")
        return 1 if bad else 0
    finally:
        shutil.rmtree(run_tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
