#!/usr/bin/env python3
"""Regenerates perfbench/refs.json: the reference digest of every key in
the batch mixes, computed from the key's DuckDB oracle twin over the sf0.1
fixture — never from the engine under test.

    python3 perfbench/make_refs.py

The oracle SQL comes from the engine's registry (`SparkEntry.oracleSql`),
dumped by `perfbench.Main --mode oracle-sql`; tables are bound as bare-name
views over the fixture's parquet files, as the repository's oracle check
binds them.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import digest  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(data):
    classes = build.build()
    with tempfile.TemporaryDirectory(dir=build.OUT) as tmp:
        cp = f"{classes}:{build.jars_dir() / '*'}"
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--mode", "oracle-sql",
                        "--out", tmp], check=True)
        oracle = json.loads((Path(tmp) / "oracle_sql.json").read_text())
    con = digest.connect(threads=4)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    digests = {k: digest.digest_sql(con, sql) for k, sql in sorted(oracle.items())}
    con.close()
    out = {"data": Path(data).name, "source": "DuckDB oracle twins", "digests": digests}
    (BENCH / "refs.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    for k, d in digests.items():
        print(k, d)


if __name__ == "__main__":
    main(build.fixture_dir())
