"""DuckDB oracle digests of registry entries over a directory of parquet
tables, in a process of its own so that the oracle's memory and threads
stay out of the benchmark's measurements.

    python3 perfbench/oracle.py SF_DIR < {"entry": "oracle SQL", ...}

prints one JSON object: entry -> {"types": DuckDB result column types,
"digest": [rows, columns, sha256]}.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from training_datawarehouse_spark.canon import canon, duck_describe, values_repr  # noqa: E402


def digest(df) -> list:
    """A result under ``canon``: sorted columns, sorted rows, every cell
    stringified."""
    c = canon(df)
    body = repr((list(c.columns), values_repr(c))).encode()
    return [len(c), list(c.columns), hashlib.sha256(body).hexdigest()]


def main(argv: list[str]) -> int:
    import duckdb

    sf_dir, queries = Path(argv[0]), json.load(sys.stdin)
    con = duckdb.connect()
    for table in sorted(sf_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
    out = {}
    for name, sql in queries.items():
        out[name] = {"types": duck_describe(con, sql), "digest": digest(con.execute(sql).df())}
    con.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
