"""Output checks. Each returns a list of failure strings (empty = correct).

SSTable outputs are decoded in the driver and digested in plain Python
(``gen.Digest``), then compared with the digest ``gen.py`` computed for the
expected output when it built the inputs. Cell-struct parquet outputs are
hashed in DuckDB and compared with the same hash over the expected table
the generator wrote.
"""

from __future__ import annotations

import concurrent.futures
import os

import gen


def sstable_output(spark, out_dir: str, expected: dict) -> list[str]:
    """TTL rewrite output: every table is rescanned with the package's
    decoder (``scan_data_range``, what ``scan_sstable`` runs per split) and
    the cell set must hash-match the expected stripped set; every table must
    also pass ``verify_digests``."""
    from cassandra_ttl_remover_spark.sources.sstable import (
        scan_data_range,
        verify_digests,
    )

    # the Spark job of verify_digests runs while this thread decodes
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        verified = pool.submit(
            lambda: verify_digests(spark, out_dir).collect())
        got = gen.Digest()
        for dirpath, _, names in sorted(os.walk(out_dir)):
            if "Data.db" in names:
                for row in scan_data_range(os.path.join(dirpath, "Data.db"),
                                           0, 1 << 62):
                    got.add(gen.sstable_row(*row))
        digests = verified.result()
    fails = []
    if got.as_dict() != expected:
        fails.append(f"sstable rewrite: output digest {got.as_dict()} != "
                     f"expected {expected}")
    bad = [r.generation for r in digests if not (r.digest_ok and r.toc_ok)]
    if bad:
        fails.append(f"verify_digests failed for {sorted(bad)}")
    return fails


#: DuckDB aggregate over a cell-struct table: rows, an order-independent
#: hash of every row, and the cells (scalar, list, map) and row liveness
#: entries that still carry a ttl or an expiration
_CELLS_SQL = """
SELECT count(*),
       sum(hash(user_id, seq, name, score, tags, props, pk_writetime, pk_ttl,
                pk_expires_at, row_deletion_ts)::HUGEINT),
       sum((name.ttl IS NOT NULL OR name.expires_at IS NOT NULL)::INT
           + (score.ttl IS NOT NULL OR score.expires_at IS NOT NULL)::INT
           + len(list_filter(tags, c -> c.ttl IS NOT NULL
                                        OR c.expires_at IS NOT NULL))
           + len(list_filter(map_values(props),
                             c -> c.ttl IS NOT NULL
                                  OR c.expires_at IS NOT NULL))
           + (pk_ttl IS NOT NULL OR pk_expires_at IS NOT NULL)::INT)
FROM read_parquet(?)
"""


def cell_table_digest(paths: list[str]) -> tuple[int, int, int]:
    """``(rows, row hash sum, entries with a ttl)`` of the parquet files
    ``paths``, computed in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        rows, total, with_ttl = con.execute(_CELLS_SQL, [paths]).fetchone()
        return int(rows), int(total or 0), int(with_ttl or 0)
    finally:
        con.close()


def parquet_cells_output(out_dir: str, expected: tuple) -> list[str]:
    """Cell-struct CLI output: no cell or row liveness carries a ttl or an
    expiration, the files are range-ordered on the partition key (each
    sorted on ``(user_id, seq)``, their ``user_id`` ranges disjoint), and
    the rows hash-match the generator's expected table."""
    import pyarrow.parquet as pq

    files = sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir)
                   if f.endswith(".parquet"))
    fails = []
    ranges = []
    for path in files:
        t = pq.read_table(path, columns=["user_id", "seq"])
        keys = list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
        if keys != sorted(keys):
            fails.append(f"{os.path.basename(path)} not sorted on pk")
        if keys:
            ranges.append((keys[0][0], keys[-1][0]))
    ranges.sort()
    if any(hi >= lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])):
        fails.append(f"file pk ranges overlap: {ranges}")
    rows, total, with_ttl = cell_table_digest(files)
    if with_ttl:
        fails.append(f"{with_ttl} cells still carry a ttl or expiration")
    if (rows, total) != tuple(expected[:2]):
        fails.append(f"cell table: output (rows, hash) {(rows, total)} != "
                     f"expected {tuple(expected[:2])}")
    return fails


def curate_output(rows: list[tuple], oracle_rows: list[tuple]) -> list[str]:
    """curate_corpus output equals the DuckDB oracle's rows exactly."""
    got, want = sorted(rows), sorted(oracle_rows)
    if got == want:
        return []
    diff = [(a, b) for a, b in zip(got, want) if a != b][:3]
    return [f"curate_corpus: {len(got)} rows vs oracle {len(want)}; "
            f"first differences {diff}"]
